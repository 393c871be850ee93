package graft.io

import net.jpountz.lz4.{LZ4Exception, LZ4Factory}
import net.jpountz.xxhash.XXHashFactory
import org.apache.arrow.compression.{CommonsCompressionFactory, Lz4CompressionCodec}
import org.apache.arrow.memory.{ArrowBuf, BufferAllocator}
import org.apache.arrow.vector.compression.{CompressionCodec, CompressionUtil}

/** Arrow buffer-compression factory whose LZ4_FRAME codec frames the
  * bytes itself over lz4-java's block API (the JNI/unsafe LZ4 Spark
  * bundles for its shuffle), straight between `ArrowBuf`s.
  *
  * The stock `CommonsCompressionFactory` decodes LZ4 with commons-compress
  * (pure Java, ~20× slower than the format); lz4-java's frame streams
  * each allocate two 4 MB heap blocks, paid once per Arrow buffer. This
  * codec allocates nothing but the target buffer.
  *
  * Frame format: https://github.com/lz4/lz4/blob/dev/doc/lz4_Frame_format.md
  *  - Write: one frame per buffer — FLG 0x60 (version 1, independent
  *    blocks), BD 0x70 (4 MB blocks), 4 MB blocks stored raw (high bit)
  *    when they do not shrink, end mark. These are the bytes
  *    `LZ4FrameOutputStream` writes with the same compressor, so files
  *    match earlier builds byte for byte and those builds read them.
  *  - Read: any sequence of frames and skippable frames, with the header,
  *    block and content checksums, content size and block-size bound
  *    checked, and the decoded length checked against the buffer's prefix.
  *    Dictionary IDs are refused. A *linked*-block frame (what pyarrow
  *    writes for a buffer over 64 KB) lets each block copy from the one
  *    before, which the block API cannot follow: once such a frame
  *    reaches its second block, the whole buffer goes to the stock
  *    commons-compress codec this one extends.
  *
  * Buffer layout contract (AbstractCompressionCodec): compressed buffers
  * carry an 8-byte little-endian uncompressed-length prefix; doCompress
  * must RESERVE those bytes (the base class fills them, or replaces the
  * whole buffer with a raw passthrough when compression didn't help).
  * ZSTD goes to the stock factory. */
object GraftArrowCompression extends CompressionCodec.Factory {

  private val fallback = CommonsCompressionFactory.INSTANCE

  private val compressor = LZ4Factory.fastestInstance().fastCompressor()
  private val decompressor = LZ4Factory.fastestInstance().safeDecompressor()
  private val xxh32 = XXHashFactory.fastestInstance().hash32()

  private val Prefix = CompressionUtil.SIZE_OF_UNCOMPRESSED_LENGTH.toInt
  private final val Magic = 0x184D2204
  private final val SkippableMask = 0xFFFFFFF0
  private final val SkippableMagic = 0x184D2A50
  private final val RawBlock = 0x80000000
  private final val WriteBlockSize = 4 << 20
  private final val WriteFlg = 0x60
  private final val WriteBd = 0x70
  private val writeHeaderChecksum =
    (xxh32.hash(Array[Byte](WriteFlg.toByte, WriteBd.toByte), 0, 2, 0) >> 8) & 0xFF

  // FLG bits
  private final val BlockIndependence = 0x20
  private final val BlockChecksum = 0x10
  private final val ContentSize = 0x08
  private final val ContentChecksum = 0x04
  private final val Reserved = 0x02
  private final val DictId = 0x01

  private final class FastLz4Codec extends Lz4CompressionCodec {

    override protected def doCompress(allocator: BufferAllocator,
                                      uncompressed: ArrowBuf): ArrowBuf = {
      val len = uncompressed.writerIndex()
      val tail = (len % WriteBlockSize).toInt
      val bound = Prefix + 7 + 4 +
        len / WriteBlockSize * (4 + compressor.maxCompressedLength(WriteBlockSize)) +
        (if (tail > 0) 4 + compressor.maxCompressedLength(tail) else 0)
      require(bound <= Int.MaxValue,
        s"LZ4 buffer of $len bytes exceeds the 2GiB frame limit — write " +
          "with a smaller batchSize")
      val out = allocator.buffer(bound)
      try {
        val src = uncompressed.nioBuffer(0, len.toInt)
        val dst = out.nioBuffer(0, bound.toInt)
        out.setInt(Prefix, Magic)
        out.setByte(Prefix + 4, WriteFlg)
        out.setByte(Prefix + 5, WriteBd)
        out.setByte(Prefix + 6, writeHeaderChecksum)
        var pos = Prefix + 7
        var off = 0
        while (off < len) {
          val n = math.min(WriteBlockSize, len.toInt - off)
          val c = compressor.compress(src, off, n, dst, pos + 4, bound.toInt - pos - 4)
          if (c < n) out.setInt(pos, c)
          else {
            out.setBytes(pos + 4, uncompressed, off, n)
            out.setInt(pos, n | RawBlock)
          }
          pos += 4 + math.min(c, n)
          off += n
        }
        out.setInt(pos, 0)
        out.writerIndex(pos + 4)
        out
      } catch { case e: Throwable => out.close(); throw e }
    }

    override protected def doDecompress(allocator: BufferAllocator,
                                        compressed: ArrowBuf): ArrowBuf = {
      val decLen = readUncompressedLength(compressed)
      require(decLen >= 0 && decLen <= Int.MaxValue,
        s"LZ4 buffer declares $decLen uncompressed bytes — beyond the " +
          "2GiB buffer limit (corrupt frame, or a foreign writer with " +
          "multi-GiB column buffers)")
      require(compressed.writerIndex() <= Int.MaxValue,
        s"LZ4 buffer of ${compressed.writerIndex()} compressed bytes " +
          "exceeds the 2GiB buffer limit")
      val out = allocator.buffer(decLen)
      val decoded = try decodeFrames(compressed, out, decLen.toInt)
      catch { case e: Throwable => out.close(); throw e }
      if (decoded) {
        out.writerIndex(decLen)
        out
      } else {
        out.close()
        super.doDecompress(allocator, compressed)
      }
    }
  }

  /** Decodes the frames in `in` after its length prefix into `out`, which
    * must come to exactly `decLen` bytes. False when a linked-block frame
    * has more than one block: `out` then holds nothing usable. */
  private def decodeFrames(in: ArrowBuf, out: ArrowBuf, decLen: Int): Boolean = {
    val end = in.writerIndex().toInt
    val src = in.nioBuffer(0, end)
    val dst = out.nioBuffer(0, decLen)
    def need(pos: Int, n: Long): Unit =
      if (n > end - pos) corrupt(s"truncated LZ4 frame: needs $n bytes at " +
        s"offset $pos of $end")
    def u8(pos: Int): Int = { need(pos, 1); in.getByte(pos) & 0xFF }
    def i32(pos: Int): Int = { need(pos, 4); in.getInt(pos) }
    var pos = Prefix
    var written = 0
    while (pos < end) {
      val magic = i32(pos)
      if ((magic & SkippableMask) == SkippableMagic) {
        val skip = i32(pos + 4) & 0xFFFFFFFFL
        need(pos + 8, skip)
        pos += 8 + skip.toInt
      } else {
        if (magic != Magic)
          corrupt(f"not an LZ4 frame: magic 0x$magic%08X at offset $pos")
        val flg = u8(pos + 4)
        val bd = u8(pos + 5)
        if ((flg >> 6) != 1) corrupt(s"LZ4 frame version ${flg >> 6} (want 1)")
        if ((flg & Reserved) != 0 || (bd & 0x8F) != 0)
          corrupt(f"LZ4 frame reserved bits set (FLG 0x$flg%02X, BD 0x$bd%02X)")
        if ((flg & DictId) != 0)
          corrupt("LZ4 frame names a dictionary ID, which is unsupported")
        val sizeCode = bd >> 4
        if (sizeCode < 4) corrupt(s"LZ4 frame block-size code $sizeCode (want 4-7)")
        val blockMax = 1 << (2 * sizeCode + 8)
        val hasSize = (flg & ContentSize) != 0
        val descLen = if (hasSize) 10 else 2
        if (u8(pos + 4 + descLen) != (xxh32.hash(src, pos + 4, descLen, 0) >> 8 & 0xFF))
          corrupt(s"LZ4 frame header checksum mismatch at offset $pos")
        val contentSize = if (hasSize) in.getLong(pos + 6) else 0L
        val checksummed = (flg & BlockChecksum) != 0
        val frameStart = written
        pos += 5 + descLen
        var blocks = 0
        var blockWord = i32(pos)
        while (blockWord != 0) {
          if ((flg & BlockIndependence) == 0 && blocks == 1) return false
          val size = blockWord & ~RawBlock
          if (size > blockMax)
            corrupt(s"LZ4 block of $size bytes exceeds the frame's $blockMax-byte bound")
          pos += 4
          need(pos, size)
          if (checksummed && xxh32.hash(src, pos, size, 0) != i32(pos + size))
            corrupt(s"LZ4 block checksum mismatch at offset $pos")
          val room = decLen - written
          if ((blockWord & RawBlock) != 0) {
            if (size > room)
              corrupt(s"LZ4 frames hold more than the declared $decLen bytes")
            out.setBytes(written, in, pos, size)
            written += size
          } else {
            written += (try decompressor.decompress(src, pos, size, dst, written,
              math.min(blockMax, room))
            catch {
              case e: LZ4Exception => throw new IllegalStateException(
                s"corrupt LZ4 block at offset $pos, or it decodes past the " +
                  s"declared $decLen bytes", e)
            })
          }
          pos += size + (if (checksummed) 4 else 0)
          blocks += 1
          blockWord = i32(pos)
        }
        pos += 4
        if ((flg & ContentChecksum) != 0) {
          if (xxh32.hash(dst, frameStart, written - frameStart, 0) != i32(pos))
            corrupt(s"LZ4 content checksum mismatch at offset $pos")
          pos += 4
        }
        if (hasSize && contentSize != written - frameStart)
          corrupt(s"LZ4 frame declares $contentSize content bytes, holds " +
            s"${written - frameStart}")
      }
    }
    if (written != decLen)
      corrupt(s"LZ4 frames hold $written bytes, the buffer declares $decLen")
    true
  }

  private def corrupt(msg: String): Nothing = throw new IllegalStateException(msg)

  private val fastLz4 = new FastLz4Codec

  override def createCodec(t: CompressionUtil.CodecType): CompressionCodec =
    t match {
      case CompressionUtil.CodecType.LZ4_FRAME => fastLz4
      case other => fallback.createCodec(other)
    }

  override def createCodec(t: CompressionUtil.CodecType,
                           level: Int): CompressionCodec =
    t match {
      case CompressionUtil.CodecType.LZ4_FRAME => fastLz4
      case other => fallback.createCodec(other, level)
    }
}

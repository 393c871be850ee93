package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import net.jpountz.lz4.{LZ4FrameInputStream, LZ4FrameOutputStream}
import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
import net.jpountz.xxhash.XXHashFactory
import org.apache.arrow.memory.{ArrowBuf, RootAllocator}
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream
import org.scalatest.funsuite.AnyFunSuite

import graft.io.GraftArrowCompression

/** The LZ4_FRAME buffer codec against the frame format itself: frames from
  * lz4-java's and commons-compress's stream writers decode, its own frames
  * are the bytes `LZ4FrameOutputStream` writes and decode with
  * `LZ4FrameInputStream`, and every corrupt frame fails loudly without
  * leaking the buffer it was decoding into. */
class GraftArrowCompressionSpec extends AnyFunSuite {

  private val codec = GraftArrowCompression.createCodec(CodecType.LZ4_FRAME)
  private val rnd = new scala.util.Random(7)

  private def randomBytes(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
  /** Compressible: short runs over a small alphabet. */
  private def textBytes(n: Int) = Array.tabulate(n)(i => ('a' + (i / 3 + i / 101) % 7).toByte)

  private def withAllocator(f: RootAllocator => Unit): Unit = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      f(alloc)
      assert(alloc.getAllocatedMemory === 0L, "codec leaked a buffer")
    } finally alloc.close()
  }

  private def toBuf(alloc: RootAllocator, bytes: Array[Byte]): ArrowBuf = {
    val b = alloc.buffer(math.max(1, bytes.length).toLong)
    b.setBytes(0, bytes)
    b.writerIndex(bytes.length.toLong)
    b
  }

  private def bytesOf(b: ArrowBuf): Array[Byte] = {
    val out = new Array[Byte](b.writerIndex().toInt)
    b.getBytes(0, out)
    out
  }

  /** An Arrow compressed buffer: 8-byte LE length prefix, then `frame`. */
  private def prefixed(declared: Long, frame: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + frame.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(declared).put(frame).array()
  }

  private def decode(alloc: RootAllocator, compressed: Array[Byte]): Array[Byte] = {
    val out = codec.decompress(alloc, toBuf(alloc, compressed))
    try bytesOf(out) finally out.close()
  }

  private def lz4JavaFrame(data: Array[Byte], size: BLOCKSIZE,
                           knownSize: Long, bits: FLG.Bits*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val os = new LZ4FrameOutputStream(bos, size, knownSize, bits: _*)
    os.write(data)
    os.close()
    bos.toByteArray
  }

  private def defaultLz4JavaFrame(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val os = new LZ4FrameOutputStream(bos)
    os.write(data)
    os.close()
    bos.toByteArray
  }

  /** Rewrites the header checksum byte after a hand-edited descriptor. */
  private def rehash(frame: Array[Byte]): Array[Byte] = {
    val descLen = if ((frame(4) & 0x08) != 0) 10 else 2
    val hc = XXHashFactory.fastestInstance().hash32().hash(frame, 4, descLen, 0) >> 8
    val f = frame.clone()
    f(4 + descLen) = hc.toByte
    f
  }

  private def assertCorrupt(alloc: RootAllocator, compressed: Array[Byte],
                            expect: String): Unit = {
    val in = toBuf(alloc, compressed)
    val e = intercept[RuntimeException](codec.decompress(alloc, in))
    in.close()
    assert(e.getMessage.contains(expect), e.getMessage)
  }

  private val sizes = Seq(
    "1 byte" -> textBytes(1),
    "64 KB - 1" -> textBytes(65535),
    "64 KB" -> textBytes(65536),
    "64 KB + 1" -> textBytes(65537),
    "random 100 000" -> randomBytes(100000),
    "4 MB + 1 (two blocks)" -> textBytes((4 << 20) + 1),
    "4 MB text + random tail (raw second block)" ->
      (textBytes(4 << 20) ++ randomBytes(200000)))

  test("round-trips every size, as the bytes lz4-java's frame stream writes") {
    withAllocator { alloc =>
      val empty = codec.compress(alloc, toBuf(alloc, Array.emptyByteArray))
      val back = codec.decompress(alloc, empty)
      assert(back.writerIndex() === 0L)
      back.close()
      for ((name, data) <- sizes) {
        val c = codec.compress(alloc, toBuf(alloc, data))
        val cBytes = bytesOf(c)
        val out = codec.decompress(alloc, c)
        assert(java.util.Arrays.equals(bytesOf(out), data), name)
        out.close()
        val declared = java.nio.ByteBuffer.wrap(cBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
        if (declared != -1L) { // -1: stored uncompressed, no frame
          assert(declared === data.length.toLong, name)
          val frame = cBytes.drop(8)
          assert(java.util.Arrays.equals(frame, defaultLz4JavaFrame(data)),
            s"$name: frame differs from LZ4FrameOutputStream's")
          val is = new LZ4FrameInputStream(new ByteArrayInputStream(frame))
          assert(java.util.Arrays.equals(is.readAllBytes(), data), name)
        }
      }
    }
  }

  test("decodes lz4-java frames with block/content checksums and content size") {
    withAllocator { alloc =>
      val data = textBytes(300000) ++ randomBytes(70000) ++ textBytes(1000)
      val flagSets: Seq[Seq[FLG.Bits]] = Seq(
        Seq(),
        Seq(FLG.Bits.BLOCK_CHECKSUM),
        Seq(FLG.Bits.CONTENT_CHECKSUM),
        Seq(FLG.Bits.CONTENT_SIZE),
        Seq(FLG.Bits.BLOCK_CHECKSUM, FLG.Bits.CONTENT_CHECKSUM, FLG.Bits.CONTENT_SIZE))
      for (bits <- flagSets; size <- Seq(BLOCKSIZE.SIZE_64KB, BLOCKSIZE.SIZE_4MB)) {
        val frame = lz4JavaFrame(data, size, data.length.toLong,
          (FLG.Bits.BLOCK_INDEPENDENCE +: bits): _*)
        assert(java.util.Arrays.equals(decode(alloc, prefixed(data.length, frame)), data),
          s"$bits $size")
      }
    }
  }

  test("decodes concatenated frames and skips skippable frames") {
    withAllocator { alloc =>
      val a = textBytes(5000)
      val b = randomBytes(3000) ++ textBytes(90000)
      val skippable = Array[Byte](0x5F, 0x2A, 0x4D, 0x18, 3, 0, 0, 0, 9, 9, 9)
      val frames = skippable ++ defaultLz4JavaFrame(a) ++ skippable ++
        lz4JavaFrame(b, BLOCKSIZE.SIZE_64KB, b.length.toLong,
          FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_CHECKSUM)
      assert(java.util.Arrays.equals(
        decode(alloc, prefixed(a.length + b.length, frames)), a ++ b))
    }
  }

  test("decodes linked-block frames, single- and multi-block") {
    withAllocator { alloc =>
      for (data <- Seq(textBytes(40000), textBytes(300000) ++ randomBytes(20000))) {
        val bos = new ByteArrayOutputStream()
        val params = new FramedLZ4CompressorOutputStream.Parameters(
          FramedLZ4CompressorOutputStream.BlockSize.K64, true, true, true)
        val os = new FramedLZ4CompressorOutputStream(bos, params)
        os.write(data)
        os.close()
        val frame = bos.toByteArray
        assert((frame(4) & 0x20) === 0, "commons wrote an independent-block frame")
        assert(java.util.Arrays.equals(decode(alloc, prefixed(data.length, frame)), data),
          s"${data.length} bytes")
      }
    }
  }

  test("corrupt frames fail loudly and release the target buffer") {
    withAllocator { alloc =>
      val data = textBytes(200000)
      val plain = defaultLz4JavaFrame(data)
      val checked = lz4JavaFrame(data, BLOCKSIZE.SIZE_4MB, data.length.toLong,
        FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.BLOCK_CHECKSUM,
        FLG.Bits.CONTENT_CHECKSUM, FLG.Bits.CONTENT_SIZE)
      def flip(f: Array[Byte], at: Int) = { val g = f.clone(); g(at) = (g(at) ^ 0x01).toByte; g }
      val n = checked.length
      // descriptor: magic 4, FLG, BD, content size 8, HC at 14; block word
      // at 15; block checksum, end mark and content checksum close the frame
      assertCorrupt(alloc, prefixed(data.length, flip(plain, 6)), "header checksum")
      assertCorrupt(alloc, prefixed(data.length, flip(checked, 14)), "header checksum")
      assertCorrupt(alloc, prefixed(data.length, flip(checked, n - 12)), "block checksum")
      assertCorrupt(alloc, prefixed(data.length, flip(checked, n - 1)), "content checksum")
      assertCorrupt(alloc, prefixed(data.length, flip(plain, 0)), "not an LZ4 frame")
      assertCorrupt(alloc, prefixed(data.length, plain.dropRight(5)), "truncated")
      assertCorrupt(alloc, prefixed(data.length, plain.take(11)), "truncated")
      assertCorrupt(alloc, prefixed(data.length, checked.take(10)), "truncated")
      val withDict = plain.clone(); withDict(4) = (withDict(4) | 0x01).toByte
      assertCorrupt(alloc, prefixed(data.length, rehash(withDict)), "dictionary")
      val v2 = plain.clone(); v2(4) = (v2(4) ^ 0xC0).toByte
      assertCorrupt(alloc, prefixed(data.length, rehash(v2)), "version")
      val reserved = plain.clone(); reserved(5) = (reserved(5) | 0x01).toByte
      assertCorrupt(alloc, prefixed(data.length, rehash(reserved)), "reserved")
      val small = defaultLz4JavaFrame(randomBytes(200000))
      small(5) = 0x40 // 64 KB bound over one 200 000-byte raw block
      assertCorrupt(alloc, prefixed(200000, rehash(small)), "bound")
      val sized = checked.clone(); sized(6) = (sized(6) + 1).toByte
      assertCorrupt(alloc, prefixed(data.length, rehash(sized)), "content bytes")
      assertCorrupt(alloc, prefixed(data.length + 1, plain), "declares")
      assertCorrupt(alloc, prefixed(data.length - 1, plain), "declared")
      assertCorrupt(alloc, prefixed(data.length, plain ++ plain), "declared")
      val raw = defaultLz4JavaFrame(randomBytes(1000))
      assertCorrupt(alloc, prefixed(999, raw), "more than the declared")
    }
  }
}

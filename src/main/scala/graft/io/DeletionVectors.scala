package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** Deletion-vector sidecars: the MERGE-ON-READ half of row-level deletes
  * (the Delta deletion-vector / Iceberg position-delete shape). A
  * copy-on-write delete ([[FeatherMutations.deleteByKey]], a `graft`
  * MERGE) rewrites every file holding a match — a scattered 1000-key
  * takedown against a clustered 100-TB table rewrites ~1000 × 128 MiB
  * parts to drop ~1000 rows. A DV delete (the `graft_dv` catalog's
  * delta write, [[graft.sources.FaceRowLevel]]) instead writes one tiny
  * sidecar of deleted ROW POSITIONS per touched file and publishes the
  * (file → DV) binding in the snapshot manifest: bytes written scale
  * with DELETED ROWS, not touched files.
  * Readers apply the DV as a position filter inside the scan; physical
  * erasure happens when compaction/clustering folds the DV into a
  * rewrite and `expire()` reclaims the old part (the same compliance
  * point the copy-on-write path uses).
  *
  * File format (`.dv`): magic "GDV1", row-position count, then the
  * positions as sorted big-endian longs. Positions are FORMAT-LOCAL but
  * stable under any split plan:
  *  - feather/Arrow IPC: `(recordBatchIndex << 32) | rowInBatch` — a
  *    split that reads batches [5, 6] knows both coordinates without
  *    decoding batches 0..4.
  *  - avro: `(blockSyncOffset << 24) | recordInBlock` — block offsets
  *    are physical byte positions of the container's sync markers, so a
  *    byte-range split that `sync()`s into the middle of a file still
  *    derives them without counting records from the start.
  *
  * Reference: the in-memory analog is `apply_boolean_mask`
  * (cpp/include/cudf/stream_compaction.hpp:202) — a distributed immutable
  * table re-expresses the mask as a persisted position set swapped in by
  * an atomic manifest commit. */
private[graft] object DeletionVectors {

  private val Magic = 0x47445631 // "GDV1"

  /** The in-flight name prefix [[graft.sources.FeatherSnapshots.vacuumOrphans]]
    * recognizes: a DV written for a commit targeting a version NEWER than
    * the latest manifest is a pending (or crash-retried) delete's output,
    * never an orphan. */
  def dvName(targetVersion: Long, partName: String): String =
    f"dv-v$targetVersion%08d-${java.util.UUID.randomUUID().toString
      .take(8)}-$partName.dv"

  def featherPos(batchIdx: Int, rowInBatch: Int): Long =
    (batchIdx.toLong << 32) | (rowInBatch.toLong & 0xffffffffL)

  /** Avro positions pack the block's sync-marker byte offset with the
    * record ordinal inside the block. 2^39 bytes (512 GiB) per file and
    * 2^24 records per block bound any practical container; both checks
    * are loud because a silent wrap would delete the WRONG rows. */
  def avroPos(blockSyncOffset: Long, recordInBlock: Long): Long = {
    require(blockSyncOffset >= 0 && blockSyncOffset < (1L << 39),
      s"avro block offset $blockSyncOffset exceeds the 2^39 DV encoding")
    require(recordInBlock >= 0 && recordInBlock < (1L << 24),
      s"avro in-block record index $recordInBlock exceeds the 2^24 DV encoding")
    (blockSyncOffset << 24) | recordInBlock
  }

  /** Write `positions` (deduplicated, sorted here) as one DV file;
    * returns the byte length. Overwrites: DV files are never updated in
    * place by the protocol (each delete commit writes a fresh name), so
    * an existing file is a crashed attempt's residue. */
  def write(fs: FileSystem, dir: Path, name: String,
            positions: Array[Long]): Long = {
    val sorted = positions.distinct.sorted
    val p = new Path(dir, name)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(p, true)))
    try {
      out.writeInt(Magic)
      out.writeLong(sorted.length.toLong)
      sorted.foreach(out.writeLong)
    } finally out.close()
    fs.getFileStatus(p).getLen
  }

  /** Load a DV as a sorted position array. Loud on a foreign or torn
    * file — applying a corrupt DV would silently drop the wrong rows. */
  def read(conf: org.apache.hadoop.conf.Configuration, absPath: String)
      : Array[Long] = {
    val p = new Path(absPath)
    val fs = p.getFileSystem(conf)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p)))
    try {
      require(in.readInt() == Magic,
        s"$absPath is not a graft deletion vector (bad magic)")
      val n = in.readLong()
      require(n >= 0 && n < Int.MaxValue, s"$absPath: bad DV count $n")
      val arr = new Array[Long](n.toInt)
      var i = 0
      while (i < n) { arr(i) = in.readLong(); i += 1 }
      arr
    } finally in.close()
  }

  /** Sorted union of two sorted position arrays (a second delete on an
    * already-DV'd file merges into a NEW sidecar). */
  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      val v = if (a(i) <= b(j)) a(i) else b(j)
      if (a(i) == v) i += 1
      if (j < b.length && b(j) == v) j += 1
      if (k == 0 || out(k - 1) != v) { out(k) = v; k += 1 }
    }
    while (i < a.length) {
      if (k == 0 || out(k - 1) != a(i)) { out(k) = a(i); k += 1 }; i += 1 }
    while (j < b.length) {
      if (k == 0 || out(k - 1) != b(j)) { out(k) = b(j); k += 1 }; j += 1 }
    java.util.Arrays.copyOf(out, k)
  }

  /** Sorted difference `a − b` (the CDF reader derives "rows newly
    * deleted this version" as curDv − prevDv). */
  def diff(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length) {
      while (j < b.length && b(j) < a(i)) j += 1
      if (j >= b.length || b(j) != a(i)) { out(k) = a(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, k)
  }

  /** Advancing cursor over a sorted DV for an ascending position scan:
    * O(1) amortized per row, one binary search per batch/block entry.
    * `keep = false` drops DV positions (the read path); `keep = true`
    * yields ONLY them (the CDF "rows deleted this version" read). */
  final class Cursor(dv: Array[Long], keep: Boolean) {
    private var i = 0
    /** Jump to the first position ≥ `floor` (entering a new batch/block
      * whose predecessors this split never saw). */
    def seek(floor: Long): Unit = {
      val s = java.util.Arrays.binarySearch(dv, floor)
      i = if (s >= 0) s else -(s + 1)
    }
    /** Should the row at `pos` be emitted? Positions must arrive in
      * ascending order between seeks. */
    def admit(pos: Long): Boolean = {
      while (i < dv.length && dv(i) < pos) i += 1
      val hit = i < dv.length && dv(i) == pos
      if (hit) i += 1
      if (keep) hit else !hit
    }
  }
}

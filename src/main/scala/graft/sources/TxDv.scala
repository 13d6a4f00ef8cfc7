package graft.sources

/** DELETION VECTORS for [[TxTable]] (r12) — the merge-on-read DELETE the
  * copy-on-write path cannot afford at the margin: rewriting a gigabyte
  * file to delete a kilobyte of rows is the write amplification every
  * log-structured format eventually removes (Delta deletion vectors,
  * Iceberg positional deletes). A MOR delete writes, per affected file, a
  * BITMAP over the file's row positions (parquet `_metadata.row_index` —
  * stable per file because parquet row order is immutable) into a sidecar
  * under `dv/`, and commits `dv` actions binding file → sidecar. Readers
  * mask the marked positions at scan time ([[TxDvParquetFileFormat]],
  * under [[TxTable]]'s one scan); writes that rewrite a file
  * (copy-on-write delete/merge, compaction) read THROUGH the vector and
  * drop it with the file — compaction is what materializes deletes.
  *
  * The bitmap is a plain little-endian long-word bitset serialized base64
  * into the sidecar (no compression: a DV's size is deleted-rows/8 bits,
  * and a scan reads it executor-side, once per process, for the files it
  * opens — [[BitmapCache]]). A re-delete on an already-vectored file
  * merges bitmaps (OR) and commits a REPLACEMENT vector — log replay
  * keeps the latest.
  */
object TxDv {

  /** Growable bitset over row positions. */
  final class Bitmap(var words: Array[Long]) extends Serializable {
    def this() = this(new Array[Long](0))
    private def ensure(word: Int): Unit =
      if (word >= words.length)
        words = java.util.Arrays.copyOf(words, math.max(word + 1, words.length * 2))
    def set(pos: Long): Unit = {
      val w = (pos >> 6).toInt
      ensure(w)
      words(w) |= 1L << (pos & 63)
    }
    def get(pos: Long): Boolean = {
      val w = (pos >> 6).toInt
      w < words.length && ((words(w) >> (pos & 63)) & 1L) != 0L
    }
    def or(other: Bitmap): Bitmap = {
      ensure(math.max(other.words.length - 1, 0))
      var i = 0
      while (i < other.words.length) { words(i) |= other.words(i); i += 1 }
      this
    }
    def cardinality: Long = {
      var c = 0L
      var i = 0
      while (i < words.length) { c += java.lang.Long.bitCount(words(i)); i += 1 }
      c
    }
    def serialize: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      words.foreach(bb.putLong)
      bb.array()
    }
  }

  object Bitmap {
    def deserialize(bytes: Array[Byte]): Bitmap = {
      require(bytes.length % 8 == 0,
        s"deletion vector length ${bytes.length} not a multiple of 8")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val words = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < words.length) { words(i) = bb.getLong(); i += 1 }
      new Bitmap(words)
    }
    def fromPositions(ps: Iterator[Long]): Bitmap = {
      val b = new Bitmap()
      ps.foreach(b.set)
      b
    }
  }

  /** Row-position bitmap UDAF: folds a file's matching `_metadata
    * .row_index` values into the serialized bitmap, distributedly (grouped
    * by file, the same one-pass-over-just-touched-files shape as the
    * bloom build). Merge is word-wise OR — associative/commutative, so
    * partial aggregation is safe.
    */
  class DvAgg extends org.apache.spark.sql.expressions.Aggregator[
      Long, Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](0)
    override def reduce(buf: Array[Long], pos: Long): Array[Long] = {
      val b = new Bitmap(buf)
      b.set(pos)
      b.words
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      new Bitmap(a).or(new Bitmap(b)).words
    override def finish(buf: Array[Long]): Array[Byte] = new Bitmap(buf).serialize
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.Encoders.kryo[Array[Long]]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** Driver-side bitmap view: file name → bitmap, loaded from sidecars at
    * plan/mutation time. Since r15 this never rides a task closure — scans
    * ship [[DvRefs]] (names only) instead; the remaining consumers are the
    * driver-local ones that genuinely need bitmap CONTENT there (the
    * replacement-vector merge in deleteMor, the change feed's cardinality
    * accounting).
    */
  final case class DvMap(vectors: Map[String, Bitmap]) extends Serializable

  /** Per-file deletion-vector DESCRIPTORS (r15, VERDICT r14 #2 — the Delta
    * shape): what a scan ships to tasks is the metadata-sized (file name →
    * sidecar name) map plus the sidecar directory; bitmap BYTES are read
    * EXECUTOR-SIDE at first probe of that file and cached per process in
    * [[BitmapCache]]. Task binaries are therefore independent of vector
    * mass — a table carrying 10⁹ vector-marked rows ships kilobytes of
    * names, not ~125 MB of bitmaps, and each executor reads only the
    * sidecars of files its tasks actually touch.
    */
  final case class DvRefs(dvDir: String, refs: Map[String, String])
      extends Serializable {
    /** Sidecar name bound to a BARE data-file name, if any. */
    def refOf(fileName: String): Option[String] = refs.get(fileName)
  }

  /** Process-wide sidecar bitmap cache (executor-side on a cluster; the
    * one JVM in local mode). Sidecars are immutable once written — a
    * re-delete commits a REPLACEMENT sidecar under a fresh name — so
    * entries never invalidate; an LRU bound keeps a long-lived executor
    * from accumulating every vector it ever scanned.
    */
  object BitmapCache {
    private val MaxEntries = 1024
    private val cache =
      new java.util.LinkedHashMap[(String, String), Bitmap](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), Bitmap]): Boolean =
          size() > MaxEntries
      }
    def get(dvDir: String, ref: String): Bitmap = {
      val key = (dvDir, ref)
      val hit = cache.synchronized(cache.get(key))
      if (hit != null) return hit
      // deserialize OUTSIDE the lock: first touch of a large sidecar must
      // not serialize the other 31 scan threads behind one file read
      val bm = Bitmap.deserialize(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dvDir).resolve(ref)))
      cache.synchronized {
        val raced = cache.get(key)
        if (raced != null) raced
        else { cache.put(key, bm): Unit; bm }
      }
    }
  }
}

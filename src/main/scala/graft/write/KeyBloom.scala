package graft.write

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-file record-key bloom filter (reference analog: the BLOOM index —
  * hudi-common/src/main/java/org/apache/hudi/common/bloom/BloomFilter.java
  * + HoodieBloomIndex.java, Hudi's DEFAULT index type,
  * HoodieIndexConfig.java:53). The reference serializes the filter into
  * the parquet footer; here each data file gets a tiny `<file>.bloom`
  * sidecar — invisible to readers (all file lists come from commit
  * metadata, never a directory listing) and lifecycle-managed with its
  * data file.
  *
  * Classic m-bit / k-hash bloom. Hashing is md5-derived double hashing
  * (g_i = h1 + i·h2), deterministic across JVMs and task retries like
  * every other hash in this engine. Sized from the ACTUAL row count of
  * the file at a false-positive rate of [[KeyBloom.Fpp]].
  *
  * Built in the task that writes the file, like the reference's write
  * handle does: [[RowStats.Collector]] hashes each row's key as the row
  * streams into the file and, once the file has landed at its committed
  * name, sizes the filter, sets the bits and writes the sidecar (a
  * retried task overwrites both). The transient cost is the two hashes,
  * 16 B per row of the file being written, per writing task, on
  * `bloomIndex` tables only.
  */
final class KeyBloom(val numBits: Int, val numHashes: Int, val bits: Array[Long])
    extends Serializable {

  def add(key: String): Unit = {
    val (h1, h2) = KeyBloom.hash(key)
    addHash(h1, h2)
  }

  /** Set the bits of a key whose [[KeyBloom.hash]] is (h1, h2). */
  private[write] def addHash(h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < numHashes) {
      val b = KeyBloom.index(h1, h2, i, numBits)
      bits(b >>> 6) |= (1L << (b & 63))
      i += 1
    }
  }

  def mightContain(key: String): Boolean = {
    val (h1, h2) = KeyBloom.hash(key)
    var i = 0
    while (i < numHashes) {
      val b = KeyBloom.index(h1, h2, i, numBits)
      if ((bits(b >>> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + bits.length * 8)
    buf.putInt(numBits).putInt(numHashes)
    bits.foreach(buf.putLong)
    buf.array()
  }
}

object KeyBloom {

  /** False-positive rate of every table's key blooms (the reference's
    * default, hoodie.index.bloom.fpp, HoodieIndexConfig.java:68-89). */
  val Fpp = 1e-9

  /** m = -n·ln(p)/ln(2)², k = m/n·ln(2) — standard optimal sizing. */
  def sized(expectedKeys: Long, fpp: Double = Fpp): KeyBloom = {
    val n = math.max(1L, expectedKeys)
    val m0 = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2)))
    val m = math.max(64L, math.min(m0.toLong, Int.MaxValue.toLong - 64)).toInt
    val k = math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)
    new KeyBloom(m, k, new Array[Long]((m + 63) >>> 6))
  }

  def deserialize(bytes: Array[Byte]): KeyBloom = {
    val buf = ByteBuffer.wrap(bytes)
    val m = buf.getInt
    val k = buf.getInt
    val longs = new Array[Long]((m + 63) >>> 6)
    var i = 0
    while (buf.remaining() >= 8 && i < longs.length) { longs(i) = buf.getLong; i += 1 }
    new KeyBloom(m, k, longs)
  }

  /** (h1, h2): the two big-endian halves of the MD5 of the key's UTF-8
    * bytes. */
  private[write] def hash(key: String): (Long, Long) = {
    val buf = digest(MessageDigest.getInstance("MD5"), key.getBytes(StandardCharsets.UTF_8))
    (buf.getLong, buf.getLong)
  }

  /** MD5 of a key's UTF-8 bytes, positioned to read h1 then h2. */
  private[write] def digest(md: MessageDigest, utf8: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(md.digest(utf8))

  private[write] def index(h1: Long, h2: Long, i: Int, numBits: Int): Int = {
    val combined = h1 + i * h2
    val positive = combined & Long.MaxValue
    (positive % numBits).toInt
  }

  /** Sidecar path for a data file. */
  def sidecar(dataFile: Path): Path =
    new Path(dataFile.getParent, dataFile.getName + ".bloom")

  def write(fs: FileSystem, dataFile: Path, bloom: KeyBloom): Unit = {
    val out = fs.create(sidecar(dataFile), true)
    try out.write(bloom.serialize()) finally out.close()
  }

  /** None when the sidecar is absent (file written before blooms were
    * enabled) — callers treat that as "might contain anything". */
  def read(fs: FileSystem, dataFile: Path): Option[KeyBloom] = {
    val p = sidecar(dataFile)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      in.readFully(0, bytes)
      Some(deserialize(bytes))
    } finally in.close()
  }

  /** Best-effort sidecar removal alongside its data file. */
  def delete(fs: FileSystem, dataFile: Path): Unit =
    try fs.delete(sidecar(dataFile), false) catch { case _: Exception => () }
}

/** Hadoop Configuration is not Serializable; executors probing bloom
  * sidecars need one. Minimal write/readObject wrapper (the pattern of
  * Spark's own SerializableConfiguration, which is private[spark]). */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

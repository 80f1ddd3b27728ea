package graft.core

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage-atomicity seam for the timeline (reference analog:
  * HoodieActiveTimeline.java:525-641, whose `createImmutableFileInPath` /
  * transition renames are the same three primitives). Every place the
  * engine needs an atomicity guarantee from storage funnels through one
  * of these ops, so a deployment swaps the profile, not the protocol:
  *
  *  - `rename` (HDFS / POSIX): temp file + atomic rename; moves are
  *    metadata-only. The default.
  *  - `put` (S3-class object stores): there IS no atomic rename — a
  *    "rename" is a server-side copy + delete, and exclusivity comes
  *    from conditional writes (`PUT If-None-Match: *`). This impl
  *    simulates that profile: moves are COPIES (never a rename of the
  *    source), proving the commit protocol survives a store where
  *    rename is not atomic and not cheap.
  *
  * Data files need none of these ops: each is written once, at its
  * committed name ([[org.apache.spark.sql.graft.GroupedFileWriter]]),
  * and becomes visible only when a completed instant lists it — on an
  * object store, one whole-object PUT per file. Visibility caveat of the
  * simulation: a real PUT is all-or-nothing; the only LOCAL primitive
  * with that contract is a temp-rename within one directory, so the
  * data-file writer and the metadata ops here use it as the emulation
  * vehicle.
  */
trait CommitStore {
  def name: String

  /** Materialize `dest` with `content` if and only if it does not exist;
    * throws [[org.apache.hadoop.fs.FileAlreadyExistsException]] when it
    * does (object-store analog: `PUT If-None-Match: *`). This is the
    * table's only commit point. */
  def createExclusive(fs: FileSystem, dest: Path, content: String): Unit

  /** Atomically replace `dest` with `content`; concurrent readers see
    * the old or the new version, never a torn one (object-store analog:
    * plain `PUT`). */
  def putAtomic(fs: FileSystem, dest: Path, content: String): Unit

  /** Move a file to a new location, failing loudly if the move cannot
    * complete. Archive moves of completed instants go through here — the
    * op whose cost model differs 1000× between profiles.
    *
    * MUST be idempotent w.r.t. re-execution after a completed move
    * (src gone, dest present → success, not an error): a caller that
    * finished its move but died before recording it re-runs the move
    * verbatim, and that retry must not fail. Source deletion is always
    * the LAST step after the move is verified complete, so src-absent +
    * dest-present proves completion. */
  def moveFile(fs: FileSystem, src: Path, dest: Path): Unit
}

object CommitStore {
  val Rename = "rename"
  val Put = "put"

  def forName(n: String): CommitStore =
    Option(n).map(_.trim).filter(_.nonEmpty).getOrElse(Rename) match {
      case Rename => RenameCommitStore
      case Put    => ConditionalPutCommitStore
      case other  => throw new IllegalArgumentException(
        s"unknown commitStore '$other' (expected '$Rename' or '$Put')")
    }

  private[core] def writeTemp(fs: FileSystem, dest: Path, content: String): Path = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    tmp
  }

  // FileContext per filesystem URI: getFileContext() builds a fresh
  // FileContext each call, and every instant transition needs one.
  // FileContext is thread-safe.
  private val fcCache =
    new java.util.concurrent.ConcurrentHashMap[java.net.URI, org.apache.hadoop.fs.FileContext]()
  private[core] def fileContext(fs: FileSystem): org.apache.hadoop.fs.FileContext =
    fcCache.computeIfAbsent(fs.getUri,
      u => org.apache.hadoop.fs.FileContext.getFileContext(u, fs.getConf))
}

/** HDFS/POSIX profile: temp + atomic rename (exactly the semantics the
  * reference relies on — HoodieActiveTimeline.java:641). */
object RenameCommitStore extends CommitStore {
  override val name: String = CommitStore.Rename

  override def createExclusive(fs: FileSystem, dest: Path, content: String): Unit = {
    val tmp = CommitStore.writeTemp(fs, dest, content)
    val fc = CommitStore.fileContext(fs)
    try fc.rename(tmp, dest) // default Rename.NONE → FileAlreadyExistsException
    catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  override def putAtomic(fs: FileSystem, dest: Path, content: String): Unit = {
    val tmp = CommitStore.writeTemp(fs, dest, content)
    val fc = CommitStore.fileContext(fs)
    try fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  override def moveFile(fs: FileSystem, src: Path, dest: Path): Unit = {
    // rename-on-missing-src surfaces differently per FS (HDFS returns
    // false; LocalFileSystem's copy fallback throws FileNotFound) —
    // normalize both to the idempotency check below
    val renamed =
      try fs.rename(src, dest)
      catch { case _: java.io.FileNotFoundException => false }
    if (!renamed) {
      // idempotent re-run (task retry/speculation after the original
      // attempt's rename landed): src gone + dest present = already moved
      if (fs.exists(src) || !fs.exists(dest))
        throw new IllegalStateException(s"rename failed: $src -> $dest")
    }
  }
}

/** Simulated object-store profile: moves are copies, exclusivity is a
  * conditional write. See the trait doc for the visibility caveat of
  * emulating PUT atomicity locally. */
object ConditionalPutCommitStore extends CommitStore {
  override val name: String = CommitStore.Put

  override def createExclusive(fs: FileSystem, dest: Path, content: String): Unit = {
    // conditional-PUT contract: fail fast when the object exists (the
    // emulation then materializes atomically via an exclusive move)
    if (fs.exists(dest))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(dest.toString)
    RenameCommitStore.createExclusive(fs, dest, content)
  }

  override def putAtomic(fs: FileSystem, dest: Path, content: String): Unit =
    RenameCommitStore.putAtomic(fs, dest, content)

  override def moveFile(fs: FileSystem, src: Path, dest: Path): Unit = {
    // Idempotent under retry AND safe under CONCURRENT duplicate
    // attempts (two processes archiving one instant): each attempt copies into its own
    // attempt-unique temp and only then atomically PROMOTES it over dest
    // — dest is therefore never torn, so src-absent + dest-present
    // always proves a completed attempt. Writing dest directly would
    // break exactly there: attempt A could verify + delete src while B
    // is still mid-overwrite of dest; B's death then leaves a torn dest
    // that the next retry (src gone) would accept as complete.
    val srcLen =
      try Some(fs.getFileStatus(src).getLen)
      catch { case _: java.io.FileNotFoundException => None }
    if (srcLen.isEmpty) {
      if (fs.exists(dest)) return // a finished duplicate attempt won
      throw new IllegalStateException(
        s"copy source missing and dest absent: $src -> $dest")
    }
    // object-store "rename" = server-side copy + delete source; stream
    // copy here (the simulation pays the same O(bytes) cost shape). The
    // temp name is attempt-unique so duplicates never collide.
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.put${System.nanoTime()}t${Thread.currentThread().getId}")
    try {
      val in = fs.open(src)
      try {
        val out = fs.create(tmp, true)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 128 * 1024)
        finally out.close()
      } finally in.close()
      val tl = fs.getFileStatus(tmp).getLen
      if (tl != srcLen.get)
        throw new IllegalStateException(
          s"copy truncated: $src (${srcLen.get} B) -> $tmp ($tl B)")
      // promote: atomic replace (the PUT-visibility emulation — readers
      // and duplicate attempts see the old dest or the complete new one).
      // Plain FileSystem.rename: on LocalFileSystem it is POSIX
      // rename(2), atomic and overwriting — NOT FileContext.rename,
      // whose link-resolution path costs ~7 ms/file, 100x the rename
      // itself. A false
      // return (a stricter FS refusing an existing dest) means a
      // duplicate attempt promoted first; dest only ever holds COMPLETE
      // payloads (promotes are whole-file renames), so accept iff dest
      // carries the expected length.
      if (!fs.rename(tmp, dest)) {
        fs.delete(tmp, false)
        if (!(fs.exists(dest) && fs.getFileStatus(dest).getLen == srcLen.get))
          throw new IllegalStateException(
            s"promote failed: $tmp -> $dest")
      }
    } catch {
      case e: Exception =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        // a duplicate attempt may have finished the move (deleting src)
        // while this one was mid-copy; that is success, not failure
        if (!fs.exists(src) && fs.exists(dest)) return
        throw e
    }
    fs.delete(src, false)
  }
}

package graft.core

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit protocol of every versioned state directory
  * ([[graft.streaming.StreamingCdc]] snapshots, the
  * [[graft.schema.SchemaRegistry]] catalog generations, the
  * [[graft.streaming.StreamingIncrementalDedup]] bases, deltas and
  * outputs):
  *
  *  - data lands in a `<prefix>_<n>` dir, and only then does [[mark]]
  *    write its `_COMMITTED` marker. Readers and vacuum see committed
  *    dirs only, so a dir torn by a crash is invisible. The marker is
  *    this library's own, not Spark's `_SUCCESS`: that one depends on
  *    committer config (`marksuccessfuljobs=false` would hide every
  *    commit), and an object store whose rename copies object by object
  *    can land it before the data files;
  *  - a one-line pointer file (the dir a consumer reads) is replaced by
  *    write-temp, delete, rename ([[writePointer]]), so a reader never
  *    sees a partial pointer. A crash between the delete and the rename
  *    leaves only `<name>.tmp`, which [[readPointer]] reads in its
  *    place. This is the only rename of the library;
  *  - [[vacuum]] counts COMMITTED dirs against its retention, so debris
  *    from a dead attempt never pushes out the copy a crash fallback
  *    depends on.
  *
  * The streaming state machines add the as-of-batch rule: batch b reads
  * only the committed dirs strictly older than b, never a pointer, and
  * [[fence]] refuses b while a newer committed dir exists. A replay
  * (same id) reads exactly what its first attempt read and overwrites
  * the same dirs in place. A seed or backfill is a batch too, so the
  * stream's ids must come after its ids.
  *
  * What a missing pointer or a dangling target means is the caller's
  * policy; the protocol only reports what is on disk. */
object Commit {

  private val Marker = "_COMMITTED"

  /** Write `dir`'s commit marker; call it once the dir's data is in place. */
  def mark(fs: FileSystem, dir: Path): Unit = fs.create(new Path(dir, Marker), true).close()

  def isCommitted(fs: FileSystem, dir: Path): Boolean = fs.exists(new Path(dir, Marker))

  /** Ascending ids of every `<prefix>_<n>` dir under `root`, committed or
    * not; nothing when `root` is absent. Other names (a leading zero, a
    * non-numeric suffix) are inert. */
  def ids(fs: FileSystem, root: Path, prefix: String): Seq[Long] = {
    val Name = s"^\\Q${prefix}\\E_(0|[1-9]\\d{0,17})$$".r
    try fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case Name(n) => n.toLong }.sorted
    catch { case _: FileNotFoundException => Seq.empty }
  }

  /** Ascending ids of the `<prefix>_<n>` dirs under `root` that carry the
    * marker. */
  def committed(fs: FileSystem, root: Path, prefix: String): Seq[Long] =
    ids(fs, root, prefix).filter(n => isCommitted(fs, new Path(root, s"${prefix}_$n")))

  /** The as-of-batch run fence: a committed id `newest` above `batchId`
    * means another run (a reset checkpoint restarting ids at 0) drives
    * the state, which would read around its newest state and mix runs. */
  def fence(newest: Option[Long], batchId: Long, root: String): Unit =
    newest.foreach(n => require(batchId >= n,
      s"state at $root was built by a run that already processed batch $n; " +
        s"refusing batch $batchId — a reset checkpoint must get a fresh state " +
        "directory, or it silently corrupts the state"))

  /** Replace `root/<name>` with `value`: write `<name>.tmp`, delete the
    * old pointer, rename the temp onto it. A refused rename throws — it
    * would leave no pointer behind. */
  def writePointer(fs: FileSystem, root: Path, name: String, value: String): Unit = {
    val ptr = new Path(root, name)
    val tmp = new Path(root, s"$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes(UTF_8)) finally out.close()
    fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr)) throw new IOException(s"rename $tmp -> $ptr failed")
  }

  /** The trimmed content of `root/<name>`; while it is missing, that of
    * `<name>.tmp` (the instant between [[writePointer]]'s delete and
    * rename). A file that vanishes while it is read counts as missing,
    * and the pointer is read once more in case the rename landed
    * meanwhile. None when neither exists. */
  def readPointer(fs: FileSystem, root: Path, name: String): Option[String] = {
    def read(n: String): Option[String] =
      try {
        val in = fs.open(new Path(root, n))
        Some(try new String(in.readAllBytes(), UTF_8).trim finally in.close())
      } catch { case _: FileNotFoundException => None }
    read(name).orElse(read(s"$name.tmp")).orElse(read(name))
  }

  /** Delete every `<prefix>_<n>` dir under `root` except `current` and the
    * newest `keep` committed ones; uncommitted dirs never hold a slot. */
  def vacuum(fs: FileSystem, root: Path, prefix: String, keep: Int, current: Long): Unit = {
    val all = ids(fs, root, prefix)
    val kept = all.filter(n => isCommitted(fs, new Path(root, s"${prefix}_$n")))
      .takeRight(keep).toSet + current
    all.filterNot(kept).foreach(n => fs.delete(new Path(root, s"${prefix}_$n"), true))
  }
}

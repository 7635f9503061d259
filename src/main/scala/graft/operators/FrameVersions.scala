package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic multi-frame commits for the small serving stores — the
  * lexical four-frame index, the trigram-LM store, the tokenizer word
  * store, the PCA moments store, the MinHash signature index and the
  * PageRank score store — the L11/X3se commit grammar at frame scale:
  * a save writes EVERY frame under an immutable `_v<n>/` root and ONE
  * marker create (`_commits/<n>_<tag>`) is the commit point. A crash
  * mid-save leaves an uncommitted `_v<n>` that nothing references
  * (the previous version keeps serving exactly), never a store with
  * two frames new and two old.
  *
  * Every save of these stores is such a commit; there is no in-place
  * save. A read-modify-write cycle writes into a NEW version root, so
  * the frames it derived from are never the directories being
  * replaced and nothing needs a `localCheckpoint` pin. A reader that
  * resolved version n keeps reading its frames unchanged while later
  * saves publish on top; [[vacuum]] is the physical purge on the
  * caller's retention schedule (never below a version a reader still
  * pins).
  *
  * The tag names what made the commit: a streaming twin's batch id,
  * or `-` for a batch-mode save. It makes a twin's redelivery check
  * exact — a latest commit carrying the batch's tag means the batch
  * already applied. A plain `<n>` marker (written before commits were
  * tagged) reads as tag `-`.
  *
  * Loads resolve the version ONCE ([[latest]]) and read every frame
  * from it, so a load that races a commit still returns one version's
  * frames. A store with no commit reads its frames at the root — the
  * layout the former in-place saves wrote; the first commit on such a
  * store publishes v1 and the root frames become unreferenced residue.
  *
  * Scale notes (100 TB): these stores are vocabulary-, signature-,
  * node- or d²-sized — versions cost one extra directory level and
  * markers are empty files; a commit is the frame writes plus one
  * create. */
object FrameVersions {

  /** Version `n` of the store at `dir` with its commit's tag, or — as
    * `n = 0`, tag `-` — the root of a store no commit has reached.
    * Every frame read through one `Version` comes from that version. */
  final case class Version(spark: SparkSession, dir: String, n: Long,
      tag: String) {
    private def root = if (n == 0L) dir else s"$dir/_v$n"
    def read(frame: String): DataFrame = spark.read.parquet(s"$root/$frame")
    def has(frame: String): Boolean =
      fileSystem(spark, dir).exists(new Path(s"$root/$frame"))
  }

  private val Marker = "([0-9]+)(?:_(.+))?".r

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every commit at `dir` as (version, tag, marker), oldest first —
    * the one listing of `_commits` that [[latest]], [[recover]] and
    * [[vacuum]] read. */
  private def commits(fs: FileSystem, dir: String)
      : Seq[(Long, String, Path)] = {
    val root = new Path(s"$dir/_commits")
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isFile).map(_.getPath)
      .flatMap(p => p.getName match {
        case Marker(n, tag) =>
          Some((n.toLong, Option(tag).getOrElse("-"), p))
        case _ => None
      })
      .sortBy(_._1)
  }

  /** The latest committed version at `dir` with its tag (version 0
    * when nothing is committed). */
  def latest(spark: SparkSession, dir: String): Version =
    commits(fileSystem(spark, dir), dir).lastOption
      .fold(Version(spark, dir, 0L, "-")) { case (n, tag, _) =>
        Version(spark, dir, n, tag) }

  /** Latest committed version number at `dir` (0 = none). */
  def current(spark: SparkSession, dir: String): Long =
    latest(spark, dir).n

  /** Commit `frames` as the next version, tagged `tag`: every name is
    * checked before anything is written, each frame is written under
    * `_v<n+1>/<name>`, then the single marker create commits. A
    * crashed prior attempt's residue at `_v<n+1>` rewrites
    * idempotently (mode overwrite per frame). Returns the committed
    * version. */
  def commit(spark: SparkSession, dir: String,
      frames: Seq[(String, DataFrame)], tag: String = "-"): Long = {
    require(frames.nonEmpty, "commit needs at least one frame")
    require(frames.map(_._1).distinct.size == frames.size,
      "frame names must be distinct")
    frames.foreach { case (name, _) =>
      require(!name.startsWith("_") && !name.contains("/"),
        s"frame names must be plain directory names (got '$name')")
    }
    require(tag.nonEmpty && !tag.exists("_/".contains(_)),
      s"commit tags must be nonempty and free of '_' and '/' " +
        s"(got '$tag')")
    val n = current(spark, dir) + 1
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/_v$n/$name")
    }
    fileSystem(spark, dir)
      .create(new Path(s"$dir/_commits/${n}_$tag"), true).close()
    n
  }

  /** Drop uncommitted residue: any `_v<k>` directory without its
    * marker (a save that never reached its commit point — nothing
    * references it). Safe on a clean or uncommitted store. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fileSystem(spark, dir)
    if (fs.exists(new Path(dir))) {
      val committed = commits(fs, dir).map(_._1).toSet
      fs.listStatus(new Path(dir)).filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => n.matches("_v[0-9]+") &&
          !committed.contains(n.drop(2).toLong))
        .foreach(n => fs.delete(new Path(s"$dir/$n"), true): Unit)
    }
  }

  /** Drop committed versions below the kept horizon (default: keep
    * only the current) plus uncommitted residue. Each dropped
    * version loses its marker before its frames, so a crash midway
    * leaves residue that [[recover]] removes. Returns the number of
    * versions dropped. Contract: never vacuum below a version a
    * reader still pins. */
  def vacuum(spark: SparkSession, dir: String,
      keepLast: Int = 1): Long = {
    require(keepLast >= 1, "vacuum must keep at least the current")
    val fs = fileSystem(spark, dir)
    val all = commits(fs, dir)
    require(all.nonEmpty, s"the store at $dir has no committed version")
    recover(spark, dir)
    val floor = all.last._1 - keepLast + 1
    all.filter(_._1 < floor).count { case (n, _, marker) =>
      fs.delete(marker, false): Unit
      fs.delete(new Path(s"$dir/_v$n"), true)
    }.toLong
  }
}

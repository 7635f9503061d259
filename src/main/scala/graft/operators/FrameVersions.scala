package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic multi-frame commits — the one commit protocol of every
  * persisted store: the lexical four-frame index, the trigram-LM
  * store, the tokenizer word store, the PCA moments store, the MinHash
  * signature index, the PageRank score store, the ANN index
  * ([[Similarity.retrainIndex]] commits each rebuild) and the layout
  * store's per-file snapshot manifests (`<path>/_versions`). A commit
  * writes EVERY frame under an immutable `_v<n>/` root and ONE marker
  * create (`_commits/<n>_<tag>`) is the commit point. A crash mid-save
  * leaves an uncommitted `_v<n>` that nothing references (the previous
  * version keeps serving exactly), never a store with two frames new
  * and two old.
  *
  * A commit is taken from the version its caller resolved
  * ([[Version.commit]]): it claims `n + 1` with one exclusive create
  * (`_v<n+1>/_claim`) that stays with the version, so of two
  * publishers that started from the same base exactly one commits, and
  * a publisher whose base is no longer the latest is refused — the
  * lost-update guard. A crashed publisher's claim blocks the slot
  * until [[recover]] drops it (a streaming twin recovers on its
  * mid-crash redelivery).
  *
  * A read-modify-write cycle writes into a NEW version root, so the
  * frames it derived from are never the directories being replaced
  * and nothing needs a `localCheckpoint` pin. A reader that resolved
  * version n keeps reading its frames unchanged while later commits
  * publish on top; [[vacuum]] is the physical purge on the caller's
  * retention schedule (never below a version a reader still pins).
  *
  * The tag names what made the commit: a streaming twin's batch id,
  * or `-` for a batch-mode save. It makes a twin's redelivery check
  * exact — a latest commit carrying the batch's tag means the batch
  * already applied. A plain `<n>` marker (written before commits were
  * tagged) reads as tag `-`.
  *
  * Loads resolve the version ONCE ([[latest]]) and read every frame
  * from it, so a load that races a commit still returns one version's
  * frames. A store with no commit is version 0 and reads its frames at
  * the root — the layout [[Similarity.saveIndex]] and the former
  * in-place saves write; the first commit publishes v1 and [[vacuum]]
  * drops the root frames once they fall below the kept horizon.
  *
  * Scale notes (100 TB): versions cost one extra directory level and
  * markers and claims are empty files; a commit is the frame writes
  * plus two creates. */
object FrameVersions {

  /** Version `n` of the store at `dir` with its commit's tag, or — as
    * `n = 0`, tag `-` — the root of a store no commit has reached.
    * Every frame read through one `Version` comes from that version. */
  final case class Version(spark: SparkSession, dir: String, n: Long,
      tag: String) {
    /** The directory this version's frames live under. */
    def root: String = if (n == 0L) dir else s"$dir/_v$n"
    def read(frame: String): DataFrame = spark.read.parquet(s"$root/$frame")
    def has(frame: String): Boolean =
      fileSystem(spark, dir).exists(new Path(s"$root/$frame"))

    /** Commit `frames` as version `n + 1`, tagged `tag`: every name is
      * checked before anything is written, then [[commitWith]] writes
      * each frame under `_v<n+1>/<name>` (mode overwrite, so an
      * unclaimed residue rewrites idempotently). */
    def commit(frames: Seq[(String, DataFrame)], tag: String = "-"): Long = {
      require(frames.nonEmpty, "commit needs at least one frame")
      require(frames.map(_._1).distinct.size == frames.size,
        "frame names must be distinct")
      frames.foreach { case (name, _) =>
        require(!name.startsWith("_") && !name.contains("/"),
          s"frame names must be plain directory names (got '$name')")
      }
      commitWith(tag)(root => frames.foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$root/$name")
      })
    }

    /** Commit whatever `write` lays under the new version's root (its
      * argument) as version `n + 1`, tagged `tag` — the form for
      * caller-laid frames such as [[Similarity.saveIndex]]'s
      * partitioned `vectors`. The claim comes first: it is refused
      * when another publisher holds `n + 1` or a later version has
      * committed. Returns the committed version. */
    def commitWith(tag: String = "-")(write: String => Unit): Long = {
      require(tag.nonEmpty && !tag.exists("_/".contains(_)),
        s"commit tags must be nonempty and free of '_' and '/' " +
          s"(got '$tag')")
      val next = n + 1
      val fs = fileSystem(spark, dir)
      require(fs.createNewFile(new Path(s"$dir/_v$next/_claim")) &&
        current(spark, dir) == n,
        s"another writer is publishing v$next at $dir, or v$n is no " +
          "longer the latest version — resolve the store again; run " +
          s"FrameVersions.recover($dir) if no writer is live")
      write(s"$dir/_v$next")
      fs.create(new Path(s"$dir/_commits/${next}_$tag"), true).close()
      next
    }
  }

  private val Marker = "([0-9]+)(?:_(.+))?".r

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every commit at `dir` as (version, tag, marker), oldest first —
    * the one listing of `_commits` that [[versions]], [[recover]] and
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

  /** Every committed version at `dir`, oldest first. */
  def versions(spark: SparkSession, dir: String): Seq[Version] =
    commits(fileSystem(spark, dir), dir).map { case (n, tag, _) =>
      Version(spark, dir, n, tag) }

  /** The latest committed version at `dir` with its tag (version 0
    * when nothing is committed). */
  def latest(spark: SparkSession, dir: String): Version =
    versions(spark, dir).lastOption.getOrElse(Version(spark, dir, 0L, "-"))

  /** Latest committed version number at `dir` (0 = none). */
  def current(spark: SparkSession, dir: String): Long =
    latest(spark, dir).n

  /** Commit `frames` on top of the latest version ([[Version.commit]]). */
  def commit(spark: SparkSession, dir: String,
      frames: Seq[(String, DataFrame)], tag: String = "-"): Long =
    latest(spark, dir).commit(frames, tag)

  /** Drop uncommitted residue: any `_v<k>` directory without its
    * marker (a save that never reached its commit point, claim
    * included — nothing references it). Safe on a clean or
    * uncommitted store; never run it beside a live publisher. */
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
    * only the current) plus uncommitted residue. The version-0 root
    * frames (the store's non-`_` children) drop with them once a
    * committed version replaces them below the horizon. Each dropped
    * version loses its marker before its frames, so a crash midway
    * leaves residue that [[recover]] removes. Returns the number of
    * committed versions dropped. Contract: never vacuum below a
    * version a reader still pins. */
  def vacuum(spark: SparkSession, dir: String,
      keepLast: Int = 1): Long = {
    require(keepLast >= 1, "vacuum must keep at least the current")
    val fs = fileSystem(spark, dir)
    val all = commits(fs, dir)
    require(all.nonEmpty, s"the store at $dir has no committed version")
    recover(spark, dir)
    val floor = all.last._1 - keepLast + 1
    if (floor > 0L)
      fs.listStatus(new Path(dir)).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") ||
          p.getName.startsWith("."))
        .foreach(fs.delete(_, true): Unit)
    all.filter(_._1 < floor).count { case (n, _, marker) =>
      fs.delete(marker, false): Unit
      fs.delete(new Path(s"$dir/_v$n"), true)
    }.toLong
  }
}

package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

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
  * A version may reuse frames earlier versions wrote instead of
  * copying them ([[Version.commitWith]]'s `carry`): a frame is then a
  * list of immutable segment directories `_v<k>/<name>` (k = 0 is the
  * root), recorded in the version's `_segments` file before its
  * marker, and a read scans them together. Without the file every frame
  * is the version's own directory. [[recover]] and [[vacuum]] never
  * drop a segment a kept committed version reads.
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
    /** The directory this version's own frames live under. */
    def root: String = rootOf(dir, n)
    private lazy val segmentList = segmentsAt(fileSystem(spark, dir), root)

    /** Every frame of this version. */
    def frames: Seq[String] =
      if (segmentList.nonEmpty) segmentList.keys.toSeq.sorted
      else {
        val (fs, p) = (fileSystem(spark, dir), new Path(root))
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
          .sorted
      }

    /** The versions whose `<frame>` directories make up `frame`, oldest
      * first — this version alone unless its commit reused segments. */
    def segments(frame: String): Seq[Long] =
      segmentList.getOrElse(frame, Seq(n))
    def paths(frame: String): Seq[String] =
      segments(frame).map(k => s"${rootOf(dir, k)}/$frame")

    /** Frame `frame`: its segments read as one scan ([[scan]]),
      * partition columns included. */
    def read(frame: String): DataFrame = paths(frame) match {
      case Seq(p) => spark.read.parquet(p)
      case ps => scan(spark, ps.map(new Path(_)))
    }
    def has(frame: String): Boolean =
      paths(frame).exists(p => fileSystem(spark, dir).exists(new Path(p)))

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
      * partitioned `vectors`. `carry` names the segments (as
      * [[segments]] lists them) of frames the new version reuses; a
      * frame `write` also lays appends its own directory as the last
      * segment. The claim comes first: it is refused when another
      * publisher holds `n + 1` or a later version has committed.
      * Returns the committed version. */
    def commitWith(tag: String = "-",
        carry: Map[String, Seq[Long]] = Map.empty)(
        write: String => Unit): Long = {
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
      write(rootOf(dir, next))
      if (carry.nonEmpty) {
        val own = Version(spark, dir, next, tag).frames
        val out = fs.create(new Path(s"${rootOf(dir, next)}/_segments"), true)
        try (carry ++ own.map(f => f -> (carry.getOrElse(f, Nil) :+ next)))
          .foreach { case (f, ks) =>
            out.write(s"$f ${ks.mkString(",")}\n".getBytes("UTF-8")) }
        finally out.close()
      }
      fs.create(new Path(s"$dir/_commits/${next}_$tag"), true).close()
      next
    }
  }

  private def rootOf(dir: String, k: Long): String =
    if (k == 0L) dir else s"$dir/_v$k"

  /** One scan over the segment roots of a frame, read with the schema
    * the first root infers. Spark discovers partitions under a single
    * root only, so the first root's partition directories are inferred
    * on their own, and a later root's reuse the values parsed for the
    * same relative directory (`c=3` reads the same under every root);
    * only a root with a directory not yet seen is inferred again. The
    * scan's file index takes the concatenation. The roots' files are
    * listed once, on the driver (plain listings, no job; `_`/`.`
    * entries skipped as Spark does). A frame of N segments is thus one
    * scan whose tasks pack small files together, not an N-way union of
    * scans. */
  private def scan(spark: SparkSession, roots: Seq[Path]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val schema = spark.read.parquet(roots.head.toString).schema
    val fs = roots.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(f => "_.".contains(f.getPath.getName.head))
      .flatMap(f => if (f.isDirectory) leaves(f.getPath) else Seq(f))
    val listed = roots.map(fs.makeQualified).map(r => r -> leaves(r).toArray)
    val byRoot = listed.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path) = byRoot.get(p)
      def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    def index(rs: Seq[Path], spec: Option[PartitionSpec]) = new
      InMemoryFileIndex(session, rs, Map.empty, Some(schema), cache, spec)
    def infer(r: Path) = index(Seq(r), None).partitionSpec()
    val parts = infer(listed.head._1).partitionColumns
    val seen = scala.collection.mutable.Map[String, PartitionPath]()
    def rel(r: Path, d: Path) = d.toString.stripPrefix(r.toString)
    val partitions = if (parts.isEmpty) Nil else listed.flatMap {
      case (r, files) =>
        val dirs = files.map(_.getPath.getParent).distinct.toSeq
        if (!dirs.forall(d => seen.contains(rel(r, d))))
          infer(r).partitions.foreach(p => seen(rel(r, p.path)) = p)
        dirs.map(d => seen(rel(r, d)).copy(path = d))
    }
    session.baseRelationToDataFrame(HadoopFsRelation(index(listed.map(_._1),
        Some(PartitionSpec(parts, partitions))), parts,
      StructType(schema.filterNot(f => parts.fieldNames.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(session))
  }

  /** The frame → segment versions a commit recorded at `root` (empty
    * when it wrote every frame itself); one small file read, no job. */
  private def segmentsAt(fs: FileSystem, root: String)
      : Map[String, Seq[Long]] = {
    val p = new Path(s"$root/_segments")
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.split(' ')).map(l => l(0) -> l(1).split(',').map(_.toLong)
          .toSeq).toMap
      finally in.close()
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
    * included), except the segments a committed version reads. Safe
    * on a clean or uncommitted store; never run it beside a live
    * publisher. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fileSystem(spark, dir)
    if (fs.exists(new Path(dir)))
      sweep(spark, fs, dir, commits(fs, dir).map(_._1))
  }

  /** Deletes every `_v<k>` entry not in `keep` — whole, or all but
    * the segment directories a version in `keep` reads — and returns
    * those segments as (k, frame). */
  private def sweep(spark: SparkSession, fs: FileSystem, dir: String,
      keep: Seq[Long]): Set[(Long, String)] = {
    val refs = keep.flatMap { n =>
      val v = Version(spark, dir, n, "-")
      v.frames.flatMap(f => v.segments(f).map(_ -> f))
    }.toSet
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.matches("_v[0-9]+") &&
        !keep.contains(p.getName.drop(2).toLong))
      .foreach { p =>
        val k = p.getName.drop(2).toLong
        if (!refs.exists(_._1 == k)) fs.delete(p, true): Unit
        else fs.listStatus(p).map(_.getPath)
          .filterNot(c => refs((k, c.getName)))
          .foreach(fs.delete(_, true): Unit)
      }
    refs
  }

  /** Drop committed versions below the kept horizon (default: keep
    * only the current) plus uncommitted residue, keeping every segment
    * a kept version reads. The version-0 root frames (the store's
    * non-`_` children) drop with them once a committed version
    * replaces them below the horizon. Every dropped version loses its
    * marker before its frames, so a crash midway leaves residue that
    * [[recover]] removes. Returns the number of committed versions
    * dropped. Contract: never vacuum below a version a reader still
    * pins. */
  def vacuum(spark: SparkSession, dir: String,
      keepLast: Int = 1): Long = {
    require(keepLast >= 1, "vacuum must keep at least the current")
    val fs = fileSystem(spark, dir)
    val all = commits(fs, dir)
    require(all.nonEmpty, s"the store at $dir has no committed version")
    val floor = all.last._1 - keepLast + 1
    val (dropped, kept) = all.partition(_._1 < floor)
    dropped.foreach { case (_, _, marker) => fs.delete(marker, false) }
    val refs = sweep(spark, fs, dir, kept.map(_._1))
    if (floor > 0L)
      fs.listStatus(new Path(dir)).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") ||
          p.getName.startsWith(".") || refs((0L, p.getName)))
        .foreach(fs.delete(_, true): Unit)
    dropped.size.toLong
  }
}

package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.config._
import graft.sources.SourceReader

/** The built property graph: one DataFrame per node label and per
  * relationship type — the Spark equivalent of the reference's HDF5 groups
  * `/nodes` and `/relationships` (graph_db_builder.py:152-155).
  *
  * The frames are lazy plans (source scans → union → merge shuffle → FK
  * joins). Once [[writeStaging]] has run, [[exportNeo4jCsv]] and [[stats]]
  * serve the staged store instead of running those plans again — the
  * reference's stage-once-then-serialize order
  * (graph_db_builder.py:404-408). The memo lives in the class body, not
  * in the fields, so a `copy` starts unstaged.
  *
  * Scale note: [[writeStaging]] and [[exportNeo4jCsv]] submit one job per
  * table from one driver thread each, so their concurrency is bounded by
  * the table count. The jobs share the session's FIFO scheduler: the
  * first-submitted job takes the cores it can use and the rest fill the
  * ones it leaves idle. Each table goes to its own directory, so the
  * output does not depend on the order the jobs finish in. */
final case class PropertyGraph(
    meta: DatabaseMeta,
    nodes: Map[String, DataFrame],
    relationships: Map[String, DataFrame]) {

  private var staged: Option[PropertyGraph.Staged] = None

  /** S5-equivalent staging store: parquet dirs `nodes/<Label>/`,
    * `relationships/<TYPE>/` under `outDir/{name}-{version}`. Each
    * table's row count is observed on its own write job
    * (`Dataset.observe`, no extra job); the graph then remembers the
    * root and the counts for [[exportNeo4jCsv]] and [[stats]]. The
    * tables' writes are submitted concurrently. */
  def writeStaging(outDir: String): Unit = {
    val base = s"$outDir/${meta.outputStem}"
    val tables = PropertyGraph.tables(this)
    val counts = Concurrently.map(tables) { case (kind, label, df) =>
      val obs = Observation()
      df.observe(obs, count(lit(1))).write.mode("overwrite")
        .parquet(s"$base/$kind/$label")
      // the metrics reach the driver with the execution's end event,
      // which the listener bus may deliver just after the write returns
      scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration.Inf).getLong(0)
    }
    def observed(kind: String) = tables.zip(counts).collect {
      case ((`kind`, label, _), n) => label -> n
    }.toMap
    staged = None
    staged = Some(PropertyGraph.Staged(base, observed("nodes"),
      observed("relationships")))
  }

  /** S7/S8: CSV export in Neo4j bulk-import layout (`neo4j-admin import`):
    * node files get `<idKey>:ID(<Label>)` + `:LABEL`; relationship files get
    * `:START_ID`, `:END_ID`, `:TYPE`. The reference declared this export and
    * never built it (serialize_data stub graph_db_builder.py:407-408;
    * bin/build-graph-db:16).
    *
    * After [[writeStaging]] every table is read back from the staged
    * Parquet, as the store holds it when the export runs, under the
    * frame's own schema (no footer-inference job); the build's scans,
    * merge shuffle and joins do not run again. An unstaged graph exports
    * its frames. The tables' files are written concurrently. */
  def exportNeo4jCsv(outDir: String, idKeys: Map[String, String]): Unit = {
    val base = s"$outDir/${meta.outputStem}-csv"
    Concurrently.map(PropertyGraph.tables(this)) { case (kind, label, df) =>
      val ready = PropertyGraph.neo4jReady(staged.fold(df)(s =>
        df.sparkSession.read.schema(df.schema)
          .parquet(s"${s.base}/$kind/$label")))
      if (kind == "nodes") {
        // uri_key contract (reference graph_db_builder.py:468-470: the
        // uri_key column "will be used to determine the URI of the node in
        // the output graph database"): a `_uri` column carried through the
        // build becomes the node's :ID unless the caller names an id key
        // explicitly.
        val idKey = idKeys.get(label)
          .orElse(if (ready.columns.contains("_uri")) Some("_uri") else None)
          .getOrElse(ready.columns.head)
        val idHeader =
          if (idKey == "_uri") s"uri:ID($label)" else s"$idKey:ID($label)"
        val renamed =
          ready.columns.foldLeft(ready.withColumn(":LABEL", lit(label))) {
            case (d, c) if c == idKey => d.withColumnRenamed(c, idHeader)
            case (d, _) => d
          }
        PropertyGraph.writeCsv(renamed, s"$base/nodes_$label")
      } else PropertyGraph.writeCsv(ready
          .withColumnRenamed(RelPipeline.StartId, ":START_ID")
          .withColumnRenamed(RelPipeline.EndId, ":END_ID")
          .withColumn(":TYPE", lit(label)), s"$base/rels_$label")
    }: Unit
  }

  /** A4: graph statistics — node/edge count per label, one deterministic
    * report DataFrame `(kind, label, n)` ordered by kind and label. After
    * [[writeStaging]] it is a local frame of the counts observed on the
    * staging writes and runs no job (a later upsert into the same root
    * does not move them); an unstaged graph counts its frames in one
    * aggregate query. */
  def stats(spark: SparkSession): DataFrame = staged match {
    case Some(s) =>
      def rows(kind: String, counts: Map[String, Long]) =
        counts.toSeq.sortBy(_._1).map { case (l, n) => Row(kind, l, n) }
      spark.createDataFrame(
        (rows("node", s.nodeCounts) ++ rows("rel", s.relCounts)).asJava,
        PropertyGraph.StatsSchema)
    case None =>
      val parts =
        nodes.toSeq.sortBy(_._1).map { case (label, df) =>
          df.select(lit("node").as("kind"), lit(label).as("label"),
            count(lit(1)).as("n"))
        } ++ relationships.toSeq.sortBy(_._1).map { case (label, df) =>
          df.select(lit("rel").as("kind"), lit(label).as("label"),
            count(lit(1)).as("n"))
        }
      parts.reduce(_.unionByName(_)).orderBy("kind", "label")
  }
}

object PropertyGraph {

  /** What [[PropertyGraph.writeStaging]] left: the staging root and each
    * table's observed row count. */
  private final case class Staged(base: String,
      nodeCounts: Map[String, Long], relCounts: Map[String, Long])

  /** Every table of `g` as (staging kind, label, frame): nodes first. */
  private def tables(g: PropertyGraph): Seq[(String, String, DataFrame)] =
    g.nodes.toSeq.map { case (l, df) => ("nodes", l, df) } ++
      g.relationships.toSeq.map { case (l, df) => ("relationships", l, df) }

  /** The schema of [[PropertyGraph.stats]] on both paths: literals and
    * `count` are never null. */
  private val StatsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("kind", StringType, nullable = false),
      StructField("label", StringType, nullable = false),
      StructField("n", LongType, nullable = false)))
  }

  /** Array-typed properties can't ride in a CSV cell as-is; `neo4j-admin
    * import` expects `;`-separated values under a `name:type[]` header.
    * Scalar columns pass through untouched. */
  private[operators] def neo4jReady(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    def elemName(t: DataType): String = t match {
      case LongType => "long"
      case IntegerType | ShortType | ByteType => "int"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case _ => "string"
    }
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(et, _) =>
          array_join(col(f.name).cast(ArrayType(StringType)), ";")
            .as(s"${f.name}:${elemName(et)}[]")
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Neo4j bulk import parses RFC 4180 CSV: embedded quotes are escaped by
    * doubling (`""`), not backslashes — Spark's writer defaults to `\"`,
    * which the importer rejects. Setting escape = quote restores doubling;
    * embedded newlines stay inside quoted cells. */
  private[operators] def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .csv(path)
}

/** Config-compiled graph build — the Spark lifecycle equivalent of the
  * reference's `build_hdf5_database` (graph_db_builder.py:117-131): YAML →
  * catalog → per-label DataFrame DAG (scan → project → union → merge-by-id;
  * joins for edges) → Catalyst → distributed execution. The driver only
  * touches metadata; all data movement is inside Spark jobs. */
object GraphBuilder {

  /** Build with optional ingest-time string normalization: the reference
    * NFKD→ASCII-folds string values as they stream into staging
    * (graph_db_builder.py:521-527); `asciiFold = true` applies the same
    * normalization to every string property via the codegen'd AsciiFold
    * expression (F1).
    *
    * Scale note: each distinct (source, table) pair is read once, from a
    * driver thread of its own, so the schema-inference jobs (Parquet
    * footers, CSV and JSON scans) run concurrently; that concurrency is
    * bounded by the table count. The jobs share the session's FIFO
    * scheduler, and the frames returned do not depend on the order they
    * finish in. */
  def build(spark: SparkSession, cfg0: GraphConfig,
      asciiFold: Boolean = false): PropertyGraph = {
    val cfg = cfg0.validated
    if (asciiFold) graft.functions.GraftFunctions.register(spark)

    def normalized(df: DataFrame): DataFrame =
      if (!asciiFold) df
      else df.select(df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          graft.functions.GraftFunctions.ascii_fold(col(f.name)).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)

    // --- sources: every (source, table) pair the spec names — node
    // sources, FK start and end tables, join tables — is read once, all
    // pairs concurrently, so each schema-inference job runs once and the
    // jobs overlap. A table both a node and an FK side read is one frame.
    val pairs = (cfg.nodes.flatMap(_.sources.map(s => (s.source, s.table))) ++
      cfg.relationships.flatMap(_.sources.flatMap(rs => rs.mode match {
        case fk: ForeignKeyMode =>
          Seq((rs.source, fk.startTable), (rs.source, fk.endTable))
        case jt: JoinTableMode => Seq((rs.source, jt.table))
      }))).distinct
    val tables: Map[(String, String), DataFrame] =
      pairs.zip(Concurrently.map(pairs) { case (source, table) =>
        SourceReader.readTable(spark, cfg.sources(source), table)
      }).toMap

    // --- nodes: scan each source table, normalize the id column name to
    // the label's canonical id — `id_key_label` if declared (reference
    // config.yml:16-18: Gene's per-source `entrez` id surfaces as
    // `entrez_gene_id`), else the first source's id_key — then union +
    // merge (NodePipeline).
    val nodeIdKey: Map[String, String] = cfg.nodes.map { n =>
      n.label -> n.idKeyLabel.getOrElse(n.sources.head.idKey)
    }.toMap

    val nodes: Map[String, DataFrame] = cfg.nodes.map { n =>
      val canonicalId = nodeIdKey(n.label)
      val srcDfs = n.sources.map { s =>
        val raw = normalized(tables((s.source, s.table)))
        // Each source names its id key independently (config.yml:20 vs :27);
        // align them onto the label's canonical id before the union.
        val aligned =
          if (s.idKey == canonicalId) raw
          else raw.withColumnRenamed(s.idKey, canonicalId)
        s.uriKey.filter(_ != canonicalId) match {
          case Some(uk) if aligned.columns.contains(uk) =>
            aligned.withColumn("_uri", col(uk).cast("string"))
          case _ => aligned
        }
      }
      n.label -> NodePipeline.buildNodeTable(srcDfs, canonicalId)
    }.toMap

    // --- relationships: per declared mode (RelPipeline).
    val rels: Map[String, DataFrame] = cfg.relationships.map { r =>
      val parts = r.sources.map { rs =>
        rs.mode match {
          case fk: ForeignKeyMode =>
            val startDf = tables((rs.source, fk.startTable))
            val endDf = tables((rs.source, fk.endTable))
            // J3: resolve BOTH endpoints to the owning node's id_key — the
            // join key may be a foreign key (CUSTOMER_IN_NATION joins on
            // c_nationkey; the Customer node's id is c_custkey), so emitting
            // the raw key as start_id would attach edges to wrong nodes.
            def resolveIdKey(label: String, table: String, fallback: String,
                df: DataFrame) = {
              val id = cfg.nodes.find(_.label == label)
                .flatMap(n => n.sources.find(_.table == table)
                  .orElse(n.sources.headOption))
                .map(_.idKey).getOrElse(fallback)
              // Fail fast at the config layer: the fallback path (node
              // declared over a different table than the FK side references)
              // can name a column the FK table doesn't have — surfacing that
              // as a raw AnalysisException deep in the join would break the
              // `validated` promise of actionable errors.
              if (!df.columns.contains(id))
                throw new IllegalArgumentException(
                  s"relationship '${r.label}': resolved id key '$id' of node " +
                    s"'$label' is not a column of table '$table' " +
                    s"(columns: ${df.columns.mkString(", ")})")
              id
            }
            val startId =
              resolveIdKey(fk.startNode, fk.startTable, fk.startKey, startDf)
            val endId = resolveIdKey(fk.endNode, fk.endTable, fk.endKey, endDf)
            val startCols = (Seq(fk.startKey, startId) ++ fk.startProps).distinct
            RelPipeline.foreignKeyEdges(
              startDf.select(startCols.map(col): _*), fk.startKey, startId,
              endDf, fk.endKey, endId,
              startProps = fk.startProps, endProps = fk.endProps)
          case jt: JoinTableMode =>
            val edgeDf = tables((rs.source, jt.table))
            // Endpoint inference (reference config.yml:48-54 names no nodes
            // for join_table mode — from_field/to_field implicitly match
            // node id_keys, e.g. aop_gene.AOP_id → AOP, .entrez → Gene).
            // Explicit start_node/end_node keys override.
            def byIdKey(field: String): Option[String] =
              cfg.nodes.find(_.sources.exists(_.idKey == field)).map(_.label)
            val startLabel = r.startNode.orElse(byIdKey(jt.fromField))
            val endLabel = r.endNode.orElse(byIdKey(jt.toField))
            (startLabel, endLabel) match {
              case (Some(sl), Some(el)) =>
                RelPipeline.joinTableEdges(
                  edgeDf, jt.fromField, jt.toField,
                  nodes(sl), nodeIdKey(sl), nodes(el), nodeIdKey(el),
                  props = jt.props)
              case _ => // no resolvable endpoints: raw edge projection
                edgeDf.select(
                  (col(jt.fromField).as(RelPipeline.StartId) +:
                    col(jt.toField).as(RelPipeline.EndId) +:
                    jt.props.map(col)): _*)
            }
        }
      }
      // sources may contribute different edge-prop sets; missing columns
      // null-fill exactly like the node-side A3 union
      r.label -> parts.reduce(_.unionByName(_, allowMissingColumns = true))
    }.toMap

    PropertyGraph(cfg.database, nodes, rels)
  }

  /** Incremental refresh of a staged node table — the batch twin of the
    * streaming ST1 ingest, implementing the reference's declared merge
    * contract ("maintains a record of already-seen nodes (based on the
    * primary ID) and either merges data or creates a new entry",
    * graph_db_builder.py:493-497): staged rows win per-property
    * (first-seen), update rows fill nulls and append new ids, schemas
    * null-fill in both directions through the A1 merge lattice.
    *
    * Crash-safe: the merge writes to a `._tmp` sibling (the job READS the
    * current staging dir, so writing in place would corrupt the input
    * mid-job), then swaps by renaming the live dir ASIDE to `._old` before
    * promoting `._tmp` — at every instant the data exists under some name,
    * unlike a delete-then-rename swap whose crash window loses the table.
    * A crash between the two renames is self-healing: the next run finds
    * `._old` without a live dir and restores it before merging.
    */
  def upsertStagedNodes(spark: SparkSession, outDir: String,
      meta: DatabaseMeta, label: String, updates: DataFrame,
      idKey: String): Unit = {
    val base = s"$outDir/${meta.outputStem}/nodes/$label"
    val (path, tmp, old, fs) = stagedPaths(spark, base)
    recoverAndClearTmp(fs, path, tmp, old)
    val merged =
      if (fs.exists(path))
        NodePipeline.buildNodeTable(
          Seq(spark.read.parquet(base), updates), idKey)
      else NodePipeline.buildNodeTable(Seq(updates), idKey)
    merged.write.mode("overwrite").parquet(tmp.toString)
    promoteTmp(fs, path, tmp, old)
  }

  /** Atomically replace a staged table dir through the same loss-proof
    * `._tmp` → aside → promote swap as [[upsertStagedNodes]]. Used for
    * relationship tables during `--upsert` refreshes: edges are derived
    * data and always rebuilt, but an in-place `mode("overwrite")` has a
    * crash window that destroys the previous edges while leaving the
    * merged nodes — this keeps the staging dir consistent at every
    * instant. */
  def replaceStagedTable(spark: SparkSession, base: String,
      df: DataFrame): Unit = {
    val (path, tmp, old, fs) = stagedPaths(spark, base)
    recoverAndClearTmp(fs, path, tmp, old)
    df.write.mode("overwrite").parquet(tmp.toString)
    promoteTmp(fs, path, tmp, old)
  }

  private def stagedPaths(spark: SparkSession, base: String) = {
    val path = new org.apache.hadoop.fs.Path(base)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (path, new org.apache.hadoop.fs.Path(base + "._tmp"),
      new org.apache.hadoop.fs.Path(base + "._old"), fs)
  }

  /** Recover from a crash between the two renames of a previous run, then
    * clear any stale `._tmp`. */
  private def recoverAndClearTmp(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Swap `._tmp` live: rename the live dir ASIDE to `._old` before
    * promoting, so the data exists under some name at every instant. */
  private def promoteTmp(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(path)) {
      if (fs.exists(old)) fs.delete(old, true)
      if (!fs.rename(path, old))
        throw new java.io.IOException(s"could not set aside $path")
    }
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"staging swap failed: could not rename $tmp to $path " +
          s"(previous data preserved at $old)")
    fs.delete(old, true)
  }
}

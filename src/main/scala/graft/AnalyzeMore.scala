package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Overflow dispatch for [[Analyze]] CLI commands. The primary
  * command match in `Analyze.run` sits at the JVM's 64 KB
  * bytecode-per-method ceiling (r12 verdict) — new commands land here
  * and are tried from its default branch, so the established
  * `--flag` surface (parsed once in `Analyze.parse`) keeps working
  * without growing the saturated method. Returns None for commands
  * this object does not know either, letting the caller raise the
  * usual unknown-command error. */
private[graft] object AnalyzeMore {

  def dispatch(args: Analyze.Args,
      spark: SparkSession): Option[DataFrame] = args.command match {
    case "lmmaint" =>
      // exact trigram-LM count-store maintenance: --docs is the base
      // corpus the store was built from, --delta the added/replacement
      // docs, --target the removed docs WITH their text (the store
      // keeps no per-doc rows — erasure ships ground truth); output =
      // served KN perplexity off the maintained store (≡ full rebuild)
      require(args.docs.nonEmpty,
        "lmmaint needs --docs <base corpus dir>; --delta <added docs " +
          "dir> and --target <removed docs dir (with text)> are the " +
          "change batch (either may be omitted)")
      val base = spark.read.parquet(args.docs)
      val lm = graft.operators.Relevance.buildTrigramLm(base,
        args.idCol, args.textCol)
      val adds =
        if (args.delta.nonEmpty) spark.read.parquet(args.delta)
        else base.limit(0)
      val rems =
        if (args.target.nonEmpty) spark.read.parquet(args.target)
        else base.limit(0)
      val m = graft.operators.Relevance.maintainTrigramLm(lm, adds,
        rems, args.idCol, args.textCol)
      val post = base
        .join(rems.select(col(args.idCol)).unionByName(
            adds.select(col(args.idCol))).distinct(),
          Seq(args.idCol), "left_anti")
        .select(col(args.idCol), col(args.textCol))
        .unionByName(adds.select(col(args.idCol), col(args.textCol)))
      Some(graft.operators.Relevance.knTrigramFromModel(m.model, post,
        args.idCol, args.textCol))
    case "zorder" =>
      // Z-order (Morton) layout: --docs <table dir>, --cols a,b[,c]
      // names the clustered integral columns, --bits the per-column
      // resolution, --buckets the z-range bucket count; --mode stats
      // emits the per-bucket min/max skipping envelope instead of the
      // laid-out rows
      require(args.docs.nonEmpty && args.colsList.nonEmpty,
        "zorder needs --docs <table dir> and --cols <c1,c2,...>; " +
          "--bits N (default 8), --buckets N, --mode rows|stats")
      val laid = graft.operators.Layout.zOrderLayout(
        spark.read.parquet(args.docs), args.colsList, args.bits,
        args.buckets)
      Some(args.mode match {
        case "stats" => graft.operators.Layout.fileSkippingStats(
          laid, "_bucket", args.colsList)
        case _ => laid
      })
    case "hilbert" =>
      // Hilbert-curve layout (2-D): same surface as zorder but the
      // curve index; --cols must name exactly two integral columns
      require(args.docs.nonEmpty && args.colsList.size == 2,
        "hilbert needs --docs <table dir> and --cols <x,y> (exactly " +
          "two); --bits N (default 8), --buckets N, --mode rows|stats")
      val hLaid = graft.operators.Layout.hilbertLayout(
        spark.read.parquet(args.docs), args.colsList(0),
        args.colsList(1), args.bits, args.buckets)
      Some(args.mode match {
        case "stats" => graft.operators.Layout.fileSkippingStats(
          hLaid, "_bucket", args.colsList)
        case _ => hLaid
      })
    case "pca" =>
      // PCA over an embedding column: --vectors <dir>, --vec-col,
      // --merges reused as k (component count), --iterations the
      // power-iteration budget; --mode moments emits the exact
      // second-moment model instead of the projections
      require(args.vectors.nonEmpty,
        "pca needs --vectors <dir>; --vec-col <col> (default " +
          "embedding), --id-col <col>, --merges <k components>, " +
          "--iterations N, --mode project|moments")
      val vecs = spark.read.parquet(args.vectors)
      Some(args.mode match {
        case "moments" =>
          graft.operators.Similarity.pcaMoments(vecs, args.vecCol)
        case _ =>
          val model = graft.operators.Similarity.pcaFit(vecs,
            args.vecCol, k = args.merges, iters = args.iterations)
          graft.operators.Similarity.pcaProject(vecs, args.idCol,
            args.vecCol, model)
      })
    case "dupspans" =>
      // corpus-wide duplicated-substring report (the Lee-et-al audit):
      // --docs <dir>, --shingle-size L, --min-count N (>= 2)
      require(args.docs.nonEmpty,
        "dupspans needs --docs <corpus dir>; --id-col, --text-col, " +
          "--shingle-size L (default 3), --min-count N (default 2)")
      // mode-local default 2 ONLY when --min-count was omitted (the
      // global arg default is 1 for the power-law/assoc modes); an
      // EXPLICIT --min-count 1 reaches the operator's own require and
      // fails loudly instead of being silently clamped to 2
      Some(graft.operators.Dedup.duplicatedSpans(
        spark.read.parquet(args.docs), args.textCol, args.idCol,
        args.shingleSize,
        if (args.minCountSet) args.minCount.toInt else 2))
    case "tokenbatch" =>
      // token-budget batching: --docs <dir>, --cols <lenCol> (one
      // integral column; omitted = length(--text-col)), --budget B,
      // --buckets granularity; --mode waste emits the per-batch
      // padding audit instead of the assignment
      require(args.docs.nonEmpty,
        "tokenbatch needs --docs <dir>; --cols <len column> (or " +
          "--text-col to use its length), --budget TOKENS, " +
          "--buckets N, --mode rows|waste")
      val tb0 = spark.read.parquet(args.docs)
      val (tbDf, lenCol) = args.colsList match {
        case Seq(c) => (tb0, c)
        case Nil => (tb0.withColumn("_graft_len",
          length(col(args.textCol)).cast("long")), "_graft_len")
        case _ => throw new IllegalArgumentException(
          "tokenbatch takes at most ONE --cols column (the length)")
      }
      val batched = graft.operators.Sampling.tokenBudgetBatches(
        tbDf, args.idCol, lenCol, args.budget, args.buckets)
      Some(args.mode match {
        case "waste" =>
          graft.operators.Sampling.paddingWaste(batched, lenCol)
        case _ => batched.drop("_graft_len")
      })
    case "autorebatch" =>
      // waste-measured granularity chooser: --cols is the CANDIDATE
      // bucket list (integers), e.g. --cols 4,32,256
      require(args.docs.nonEmpty && args.colsList.nonEmpty,
        "autorebatch needs --docs <dir> and --cols <candidate bucket " +
          "counts, e.g. 4,32,256>; --budget TOKENS, --text-col for " +
          "the length source")
      val ar0 = spark.read.parquet(args.docs).withColumn("_graft_len",
        length(col(args.textCol)).cast("long"))
      Some(graft.operators.Sampling.autoRebatch(ar0, args.idCol,
        "_graft_len", args.budget, args.colsList.map(_.trim.toInt)))
    case "opqrotate" =>
      // oracle-portable OPQ rotation (Givens butterfly cascade):
      // --vectors <dir>; offsets derive from the embedding width
      // (d/2, d/4, ... 1, keeping those that tile d)
      require(args.vectors.nonEmpty,
        "opqrotate needs --vectors <dir>; --vec-col (default " +
          "embedding), --id-col")
      val rv = spark.read.parquet(args.vectors)
      val d = rv.select(size(col(args.vecCol))).head().getInt(0)
      val offsets = Iterator.iterate(d / 2)(_ / 2)
        .takeWhile(_ >= 1).filter(o => d % (2 * o) == 0).toSeq
      require(offsets.nonEmpty,
        s"opqrotate: embedding width $d admits no butterfly offsets")
      val stages = graft.operators.Similarity.givensCascadeFit(
        rv, args.vecCol, offsets)
      Some(graft.operators.Similarity.givensCascadeRotate(
        rv, args.idCol, args.vecCol, stages))
    case "wordmaint" =>
      // exact tokenizer word-store maintenance (the lmmaint surface):
      // --docs base corpus, --delta added/replacement docs, --target
      // removed docs WITH text; output = the BPE merge table
      // re-induced off the maintained store (--merges rounds)
      require(args.docs.nonEmpty,
        "wordmaint needs --docs <base corpus dir>; --delta <added " +
          "docs dir> and --target <removed docs dir (with text)> are " +
          "the change batch (either may be omitted); --merges N")
      val wBase = spark.read.parquet(args.docs)
      val wStore = graft.operators.Tokenizer.buildWordStore(wBase,
        args.idCol, args.textCol)
      val wAdds =
        if (args.delta.nonEmpty) spark.read.parquet(args.delta)
        else wBase.limit(0)
      val wRems =
        if (args.target.nonEmpty) spark.read.parquet(args.target)
        else wBase.limit(0)
      val wM = graft.operators.Tokenizer.maintainWordStore(wStore,
        wAdds, wRems, args.idCol, args.textCol)
      Some(graft.operators.Tokenizer.bpeMergesFromWords(wM.words,
        args.merges)._1)
    case "scrubspans" =>
      // duplicate-span scrub: --docs <dir>, --shingle-size L,
      // --min-count N (>= 2; dupspans' default discipline), --mode
      // keepone (Lee et al. 2022 — one canonical occurrence survives,
      // the default) | all (the destructive twin: every copy leaves)
      require(args.docs.nonEmpty,
        "scrubspans needs --docs <corpus dir>; --id-col, --text-col, " +
          "--shingle-size L (default 3), --min-count N (default 2), " +
          "--mode keepone|all")
      val sd = spark.read.parquet(args.docs)
      val sMc = if (args.minCountSet) args.minCount.toInt else 2
      Some(args.mode match {
        case "all" => graft.operators.Dedup.removeDuplicateSpans(
          sd, args.textCol, args.idCol, args.shingleSize, sMc)
        case _ => graft.operators.Dedup.scrubDuplicateSpansKeepOne(
          sd, args.textCol, args.idCol, args.shingleSize, sMc)
      })
    case "autotune" =>
      // measured banding auto-tune: --docs <dir>, --cols <candidate
      // band counts, e.g. 2,4,8>, --budget <candidate-pair budget>,
      // --threshold T (default 0.2 here — the near-dup tier's cut)
      require(args.docs.nonEmpty && args.colsList.nonEmpty,
        "autotune needs --docs <corpus dir> and --cols <candidate " +
          "band counts, e.g. 2,4,8>; --budget CANDIDATE_PAIRS, " +
          "--threshold T, --id-col, --text-col")
      Some(graft.operators.Dedup.autoTunedNearDups(
        spark.read.parquet(args.docs), args.textCol, args.idCol,
        args.thresholdOpt.getOrElse(0.2),
        args.colsList.map(_.trim.toInt), args.budget))
    case "anneras" =>
      // version lifecycle of an ANN index (a saveIndex store is
      // version 0, annretrain commits the next): --docs <index dir>,
      // --mode vacuum (--budget = versions to keep, default 1) |
      // recover (drop a crashed retrain's claim) | report (default)
      require(args.docs.nonEmpty,
        "anneras needs --docs <index dir>; --mode vacuum|recover|" +
          "report, --budget KEEP_VERSIONS (vacuum)")
      import graft.operators.FrameVersions
      Some(args.mode match {
        case "vacuum" =>
          val n = FrameVersions.vacuum(spark, args.docs,
            keepLast = if (args.budgetSet) args.budget.toInt else 1)
          spark.range(1).select(lit(n).as("versions_dropped"),
            lit(FrameVersions.current(spark, args.docs))
              .as("current_version"))
        case "recover" =>
          FrameVersions.recover(spark, args.docs)
          spark.range(1).select(lit("recovered").as("action"),
            lit(FrameVersions.current(spark, args.docs)).as("version"))
        case _ =>
          spark.range(1).select(lit(graft.operators.Similarity
            .indexVersion(spark, args.docs).n).as("current_version"))
      })
    case "rankmaint" =>
      // maintained PageRank serving store: --docs <edge table dir>
      // (start_id, end_id parquet) is the CURRENT graph, --target
      // <rank store dir>. First run (no store) = cold pageRank +
      // saveRankStore under --threshold damping (default 0.85);
      // later runs warm-start off the store (its OWN damping — the
      // identity rides the meta) and commit the next version.
      // --budget = iterations (default 10 cold, 2 warm).
      require(args.docs.nonEmpty && args.target.nonEmpty,
        "rankmaint needs --docs <edge table dir> and --target <rank " +
          "store dir>; --threshold DAMPING (build-time only), " +
          "--budget ITERATIONS")
      import graft.operators.GraphOps
      val rmEdges = spark.read.parquet(args.docs)
        .select("start_id", "end_id")
      val rmScores =
        if (graft.operators.FrameVersions.current(spark,
            args.target) == 0L) {
          val d = args.thresholdOpt.getOrElse(0.85)
          val s0 = GraphOps.pageRank(rmEdges, d,
            if (args.budgetSet) args.budget.toInt else 10)
          GraphOps.saveRankStore(spark, args.target, s0, d): Unit
          s0
        } else {
          val warm = GraphOps.incrementalPageRankFromStore(spark,
            args.target, rmEdges,
            if (args.budgetSet) args.budget.toInt else 2)
          GraphOps.saveRankStore(spark, args.target, warm,
            GraphOps.loadRankStore(spark, args.target).damping): Unit
          warm
        }
      Some(rmScores.orderBy("id"))
    case "layoutversions" =>
      // the snapshot lifecycle of a writeLayout store: --docs <layout
      // store dir>, --mode vacuum (purge below the kept horizon;
      // --budget = versions to keep, default 1) | recover (drop a
      // crashed publisher's uncommitted snapshot) | report (default:
      // the committed chain as (version, n_files, n_rows))
      require(args.docs.nonEmpty,
        "layoutversions needs --docs <layout store dir>; --mode " +
          "vacuum|recover|report, --budget KEEP_VERSIONS (vacuum only)")
      import graft.operators.Layout
      Some(args.mode match {
        case "vacuum" =>
          Layout.vacuumLayout(spark, args.docs,
            keepLast = if (args.budgetSet) args.budget.toInt else 1)
        case "recover" =>
          Layout.recoverLayoutVersions(spark, args.docs)
          spark.range(1).select(lit("recovered").as("action"),
            lit(Layout.currentLayoutVersion(spark, args.docs))
              .as("version"))
        case _ =>
          val vs = Layout.snapshots(spark, args.docs)
          require(vs.nonEmpty, s"the store at ${args.docs} has no " +
            "committed snapshot — write it with writeLayout")
          vs.map(v => v.read("manifest")
              .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"))
              .select(lit(v.n).as("version"), col("n_files"),
                col("n_rows")))
            .reduce(_ unionByName _)
      })
    case "incrdedup" =>
      // daily-increment near-dedup off the persisted signature index:
      // --docs <corpus docs dir>, --target <sig index dir> (built on
      // first run, identity persisted beside the signatures), --delta
      // <new batch dir> runs the increment; omitted --delta
      // builds OR REFRESHES the store — an existing index re-signs
      // the CURRENT --docs under its own stored identity and commits
      // the next version, so docs appended to the corpus after the first
      // run can never silently miss signatures (the coverage half of
      // the silent-miss class the SigIndex closes for identity);
      // --shingle-size L and --hash-seed S apply at BUILD time only —
      // afterwards the store's own identity governs every batch
      require(args.docs.nonEmpty && args.target.nonEmpty,
        "incrdedup needs --docs <corpus docs dir> and --target <sig " +
          "index dir>; --delta <new batch dir> runs the increment " +
          "(omitted = build/refresh the store from --docs); " +
          "--threshold T (default 0.8), --shingle-size L, " +
          "--hash-seed S (build-time only)")
      val idCorpus = spark.read.parquet(args.docs)
      val idExists = graft.operators.FrameVersions
        .latest(spark, args.target).has("meta")
      val sigIx =
        if (idExists)
          graft.operators.Dedup.loadSigIndex(spark, args.target)
        else {
          val built = graft.operators.Dedup.SigIndex(
            graft.operators.Dedup.minhashSignaturesPortable(idCorpus,
              args.textCol, args.idCol, numHashes = 16,
              args.shingleSize, args.hashSeed),
            numHashes = 16, shingleSize = args.shingleSize,
            seed = args.hashSeed, portable = true)
          graft.operators.Dedup.saveSigIndex(built, args.target): Unit
          built
        }
      Some(
        if (args.delta.isEmpty) {
          // refresh: an existing store re-signs the CURRENT corpus
          // under its stored identity (seed/shingle/hash family ride
          // the meta, not the argv) and commits it as the next
          // version — the first build above already covers the
          // fresh-store case
          val refreshed =
            if (!idExists) sigIx
            else {
              val re = sigIx.copy(sigs =
                if (sigIx.portable)
                  graft.operators.Dedup.minhashSignaturesPortable(
                    idCorpus, args.textCol, args.idCol, sigIx.numHashes,
                    sigIx.shingleSize, sigIx.seed)
                else
                  graft.operators.Dedup.minhashSignatures(
                    idCorpus, args.textCol, args.idCol, sigIx.numHashes,
                    sigIx.shingleSize))
              graft.operators.Dedup.saveSigIndex(re, args.target): Unit
              re
            }
          import spark.implicits._
          Seq((refreshed.sigs.count(), refreshed.numHashes.toLong,
              refreshed.shingleSize.toLong, refreshed.seed))
            .toDF("n_signatures", "num_hashes", "shingle_size", "seed")
        } else
          // bands = 8 of the 16 hashes: the recall-leaning split (the
          // q_x2q audit's highest-candidate config) — the increment's
          // verify stage prunes false candidates exactly anyway
          graft.operators.Dedup.incrementalDedupFromIndex(sigIx,
            idCorpus, spark.read.parquet(args.delta), args.textCol,
            args.idCol, args.thresholdOpt.getOrElse(0.8), bands = 8))
    case "momentsmaint" =>
      // exact PCA-moment maintenance (the wordmaint surface for the
      // rotation preprocessing): --vectors base corpus, --delta added
      // vectors, --target removed vectors WITH embeddings; output =
      // the maintained moment table (refit-ready, no corpus rescan)
      require(args.vectors.nonEmpty,
        "momentsmaint needs --vectors <base dir>; --delta <added " +
          "vectors dir> and --target <removed vectors dir (with " +
          "embeddings)> are the change batch (either may be " +
          "omitted); --vec-col, --id-col")
      val mBase = spark.read.parquet(args.vectors)
      val mStore = graft.operators.Similarity.buildMomentsStore(
        mBase, args.idCol, args.vecCol)
      val mAdds =
        if (args.delta.nonEmpty) spark.read.parquet(args.delta)
        else mBase.limit(0)
      val mRems =
        if (args.target.nonEmpty) spark.read.parquet(args.target)
        else mBase.limit(0)
      Some(graft.operators.Similarity.maintainPcaMoments(mStore,
        mAdds, mRems, args.idCol, args.vecCol).moments)
    case _ => None
  }
}

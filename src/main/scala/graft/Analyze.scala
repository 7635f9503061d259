package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, GraphOps}

/** CLI for the post-import analytics and curation tiers — the workload the
  * reference hands to Neo4j after export ("query it in Cypher",
  * `graph_db_builder.py:126-128`), runnable in-engine without writing
  * Scala. Composes with [[BuildGraphDb]]: point `--edges` at a staged
  * `relationships/<TYPE>` directory (any parquet with
  * `start_id`/`end_id`), or any parquet with those columns.
  *
  * Usage:
  *   runMain graft.Analyze <command> [options]
  *
  * Commands:
  *   degrees     --edges <dir> [--direction out|in|total] [-o <outDir>]
  *   pagerank    --edges <dir> [--iterations N] [--damping D]
  *               [--weight-col w] [-o <outDir>]
  *   components  --edges <dir> [-o <outDir>]
  *   triangles   --edges <dir> [-o <outDir>]
  *   khop        --edges <dir> --seeds 1,2,3 [--hops N] [-o <outDir>]
  *   linkpred    --edges <dir> [--min-common N] [--max-hub-degree N]
  *               [-o <outDir>]
  *   kcore       --edges <dir> [--k N] [-o <outDir>]
  *   communities --edges <dir> [--iterations N] [-o <outDir>]
  *   harmonic    --edges <dir> --seeds 1,2,3 [--hops N] [-o <outDir>]
  *   betweenness --edges <dir> --seeds 1,2,3 [--hops N] [-o <outDir>]
  *   paths       --edges <dir> --seeds 1,2,3 [--weight-col w]
  *               [--max-iter N] [-o <outDir>]
  *   walks       --edges <dir> --seeds 1,2,3 [--walk-length N]
  *               [--hash-seed S] [-o <outDir>]
  *               (deterministic DeepWalk trajectories — hash-chosen
  *               steps, reproducible on any cluster)
  *   node2vec    --edges <dir> --seeds 1,2,3 [--walk-length N]
  *               [--return-weight W] [--common-weight W]
  *               [--explore-weight W] [--hash-seed S] [-o <outDir>]
  *               (second-order biased walks; integer weights ≡
  *               node2vec's (1/p, 1, 1/q) up to scale)
  *   hits        --edges <dir> [--iterations N] [-o <outDir>]
  *               (hub/authority scores, L1-normalized)
  *   mis         --edges <dir> [--hash-seed S] [-o <outDir>]
  *               (deterministic Luby maximal independent set)
  *   modularity  --edges <dir> [--target <communities dir>]
  *               [--iterations N] [-o <outDir>]
  *               (Newman Q per community; scores a stored (id,
  *               community) parquet, or runs LPA in-line first)
  *   louvain     --edges <dir> [--iterations FINE] [--coarse-rounds N]
  *               [--hash-seed S] [--weight-col w] [-o <outDir>]
  *               (two-level modularity-greedy communities; score the
  *               result with `modularity --target`; --weight-col runs
  *               weighted modularity on integer edge weights)
  *   leiden      --edges <dir> [--iterations FINE] [--coarse-rounds N]
  *               [--hash-seed S] [--weight-col w] [-o <outDir>]
  *               (louvain + Leiden refinement: every returned
  *               community is internally connected and Q never drops
  *               below the louvain result)
  *   incremental --edges <all dir> --delta <new-edges dir>
  *               --target <stored labels dir> [--iterations N]
  *               [--hops N] [--weight-col w] [-o <outDir>]
  *               (delta-local community maintenance: only the delta's
  *               hops-neighborhood re-runs seeded gated moves; write
  *               the output back over the labels store)
  *   split       --docs <dir> --strata-col c [--id-col doc_id]
  *               [--val-k N] [--test-k N] [--hash-seed S] [-o <outDir>]
  *               (stratified train/val/test split, exact per-stratum
  *               quotas, hash-deterministic membership); or
  *               --docs <dir> --cluster-col c [--test-fraction F]
  *               [--hash-seed S] (leakage-safe: hashes the dedup
  *               cluster id, duplicates never straddle train/test)
  *   shuffle     --docs <dir> [--id-col doc_id] [--epochs E]
  *               [--hash-seed S] [-o <outDir>]
  *               (deterministic training-order shuffle: dense 0-based
  *               `pos` per epoch, no single-partition sort; --epochs>1
  *               emits every epoch's independent order in one pass)
  *   curriculum  --docs <dir> --value-col <difficulty score> [--epochs E]
  *               [--id-col doc_id] [--hash-seed S] [-o <outDir>]
  *               (competence-based curriculum: epoch e shuffles the
  *               easiest-ranked c(e) = sp/1000 + (1−sp/1000)(e+1)/E
  *               fraction of the corpus, reaching 1 at the last epoch
  *               — feed to pack for the easy→hard training-prep story)
  *   pack        --docs <dir> --group-col g --value-col w
  *               [--id-col doc_id] [--budget TOKENS] [-o <outDir>]
  *               (sequence packing by cumulative budget: per-group
  *               stream cut every --budget weight units — run after
  *               `shuffle` with --group-col epoch --id-col pos)
  *   annbuild    --vectors <dir> --target <index dir>
  *               [--vec-col embedding] [--id-col vec_id] [--cells N]
  *               [--pq-m M] [--pq-k K]
  *               (train + persist the partition-pruned IVF-PQ index;
  *               prints the one-row build summary incl. the mean
  *               assignment cosine the drift report baselines on)
  *   annupdate   --vectors <delta dir> --target <index dir>
  *               [--vec-col embedding] [--id-col vec_id] [-o <outDir>]
  *               (absorb new vectors against the FROZEN quantizers —
  *               delta-only encode committed as the next version;
  *               returns the one-row drift report: retrain when
  *               cosine_drift grows)
  *   annquery    --vectors <queries dir> --target <index dir>
  *               [--vec-col embedding] [--id-col vec_id] [--top-k K]
  *               [--probes N] [--rerank C --corpus <vectors dir>]
  *               [-o <outDir>]
  *               (IVF-PQ search against the stored index; scans only
  *               the probed partitions, codes not floats. With
  *               --rerank, the ADC stage returns a C-deep shortlist
  *               and the full-precision --corpus vectors are fetched
  *               for just those |Q|*C rows and re-scored exactly —
  *               recall@k becomes recall@C of the code stage)
  *   anncompact  --target <index dir> [-o <outDir>]
  *               (commit the fragmented vectors rewritten one file
  *               per cell after repeated annupdate commits —
  *               query-identical — and return the one-row maintenance
  *               report incl. the drift-ledger-driven
  *               retrain_recommended verdict)
  *   intervaldel --docs <stored islands dir> --bench <post-delete raw
  *               dir> --delta <deleted rows dir> --group-col k
  *               --x-col s --y-col e [--slack GAP] [-o <outDir>]
  *               (decremental island maintenance: only the deleted
  *               rows' keys re-merge from the raw ground truth)
  *   annretrain  --target <index dir> --vectors <float corpus dir>
  *               [--vec-col embedding] [--id-col doc_id] [-o <outDir>]
  *               (the retrain_recommended ACTION: rebuild quantizers
  *               from the tombstone-purged corpus, re-encode, commit
  *               the rebuild as the index's next version, report
  *               recall before/after)
  *   annmaint    --target <index dir> --vectors <float corpus dir>
  *               [--threshold TOL] [--vec-col embedding]
  *               [--id-col doc_id] [-o <outDir>]
  *               (the POLICY: compact, read the measured drift
  *               verdict, retrain only when it recommends — one call
  *               keeps a serving index healthy; --threshold overrides
  *               the calibrated 2σ tolerance)
  *   lexmaint    --docs <base corpus dir> [--delta <added docs dir>]
  *               [--target <removed doc ids dir>] [--text-col text]
  *               [--id-col doc_id] [-o <outDir>]
  *               (exact lexical-index maintenance: build the serving
  *               store from the base corpus, apply takedowns and
  *               adds/replacements in one call, emit the served BM25
  *               weights — bit-equal to a full rebuild over the
  *               post-change corpus)
  *   scrubdecon  --docs <dir> --bench <dir> [--text-col text]
  *               [--id-col doc_id] [--shingle-size N] [-o <outDir>]
  *               (span-level decontamination: benchmark-overlapping
  *               spans scrubbed in place, survivors reassembled —
  *               the doc keeps its clean remainder)
  *   domattr     --docs <dir> --bench <dir> [--entity-col url]
  *               [--text-col text] [--id-col doc_id]
  *               [--shingle-size N] [-o <outDir>]
  *               (per-domain contamination attribution: leaked-doc
  *               and leaked-shingle fractions per host — the "which
  *               source leaked the benchmark" decision table)
  *   clusterdel  --edges <stored (id_a, id_b) verified-pair dir>
  *               --delta <deleted doc ids dir> --target <stored (id,
  *               comp) clusters dir> [-o <outDir>]
  *               (decremental dup-cluster maintenance — the dedup
  *               takedown path: touched clusters re-run CC over their
  *               internal remaining pairs, exact by refinement;
  *               deleted docs leave the store)
  *   commdec     --edges <remaining-edges dir> --delta <deleted-edges
  *               dir> --target <stored (id, community) labels dir>
  *               [--iterations R] [--weight-col w] [-o <outDir>]
  *               (decremental community maintenance — the takedown
  *               twin of `incremental`: touched communities rebuild
  *               from remaining-edge ground truth with gated rounds
  *               from singleton seeds; everyone else keeps their
  *               stored label verbatim)
  *   sccinc      --delta <new-edges dir> --target <stored labels dir>
  *               --quotient <stored condensation dir> [-o <outDir>]
  *               (EXACT incremental SCC maintenance: quotient-sized
  *               per-batch cost, never re-reads the accumulated
  *               edges; returns the refreshed (id, scc) labels)
  *   sccdec      --edges <remaining-edges dir> --delta <deleted-edges
  *               dir> --target <stored labels dir> --quotient <stored
  *               condensation dir> [-o <outDir>]
  *               (EXACT decremental SCC maintenance — the takedown
  *               twin of sccinc: re-splits only the touched SCCs'
  *               internal subgraph; returns the refreshed labels)
  *   neighagg    --edges <dir> --docs <features dir> --value-col
  *               f1,f2,... [--id-col id] [--hops K] [--direction
  *               in|out|both] [--mode sum|max|min|mean] [-o <outDir>]
  *               (K-round neighborhood feature aggregation — message
  *               passing; --mode defaults to sum, --direction to the
  *               CLI-wide default out = push against edge direction)
  *   topolevels  --edges <dir> [--max-iter N] [-o <outDir>]
  *               (SCC → condensation → longest-path topological level
  *               per SCC: dependency depth / parallel waves of the
  *               cycle-collapsed graph)
  *   dagreach    --edges <dir> [--direction out|in] [--max-iter N]
  *               [-o <outDir>]
  *               (SCC → condensation → exact reachable-descendant
  *               count per SCC by path-doubling closure; --direction
  *               in counts ancestors — upstream blast radius)
  *   bridges     --edges <dir> [--max-iter N] [-o <outDir>]
  *               (undirected cut edges by definition-exact per-edge
  *               avoid-that-edge reachability — output-complexity,
  *               run it on quotient-sized graphs)
  *   articulation --edges <dir> [--max-iter N] [-o <outDir>]
  *               (undirected cut vertices — the node twin of bridges)
  *   reach       --edges <dir> --seeds <id,id,...> [--max-iter N]
  *               [-o <outDir>]
  *               (bit-parallel multi-source reachability: ≤64 landmark
  *               seeds propagate as one 64-bit mask per node —
  *               64 BFSs for the price of one)
  *   imagededup  --docs <dir> [--bin-col payload] [--id-col doc_id]
  *               [--max-hamming H] [-o <outDir>]
  *               (perceptual dHash near-duplicate image pairs via the
  *               shared Hamming-banding machinery)
  *   audiodedup  --docs <dir> [--bin-col payload] [--id-col doc_id]
  *               [--max-hamming H] [-o <outDir>]
  *               (energy-envelope fingerprint near-duplicate audio
  *               pairs via the same Hamming-banding machinery)
  *   audiostats  --docs <dir> [--bin-col payload] [-o <outDir>]
  *               (decode-side audio quality triage: exact clipping /
  *               silence / peak / level counts as an audio_q struct)
  *   imagestats  --docs <dir> [--bin-col payload] [-o <outDir>]
  *               (decode-side image quality triage: exact exposure /
  *               contrast / solid verdicts as an image_q struct)
  *   videostats  --docs <dir> [--bin-col payload] [-o <outDir>]
  *               (container-side video quality triage: sample-table
  *               verdicts + integer bitrate as a video_q struct)
  *   exifstats   --docs <dir> [--bin-col payload] [-o <outDir>]
  *               (header-side EXIF/ICC triage: rotation, GPS PII,
  *               capture DateTime, ICC mass as an exif_q struct)
  *   neighmaint  --edges <post-change edges dir> --delta <changed rows
  *               dir> --docs <features dir> --target <stored aggregate
  *               dir> --value-col f1,f2,... [--id-col id] [--hops K]
  *               [--direction in|out|both] [--mode sum|max|min|mean]
  *               [-o <outDir>]
  *               (EXACT neighborAgg maintenance — adds, deletes, or
  *               both in one call: only the changed edges' K-hop
  *               forward closure recomputes, over its own in-closure
  *               subgraph, from ground truth)
  *   quantiles   --docs <dir> --value-col v [--group-col g]
  *               [--qs 0.5,0.99] [--sub-buckets N] [-o <outDir>]
  *               (mergeable HDR-histogram quantile sketch over
  *               non-negative integers; ~1/N relative error)
  *   powerlaw    --edges <dir> [--min-count DMIN] [-o <outDir>]
  *               (MLE degree-tail exponent alpha + standard error)
  *   cohort      --docs <dir> --entity-col e --ts-col t
  *               [--interval SEC] [-o <outDir>]
  *               (retention matrix; ts must be epoch seconds —
  *               86400 daily, 604800 weekly buckets)
  *   gini        --docs <dir> --value-col v [-o <outDir>]
  *               (concentration coefficient; integer-valued column)
  *   readability --docs <dir> [--text-col text] [--id-col doc_id]
  *               [-o <outDir>]  (Flesch / FK grade per doc)
  *   resample    --docs <dir> --entity-col e --ts-col t --value-col v
  *               [--interval SEC] [--mode locf|interp] [-o <outDir>]
  *               (regular-grid resample; ts must be epoch seconds)
  *   dsir        --docs <dir> --target <dir> [--text-col text]
  *               [--id-col doc_id] [--top-k K] [--dim BUCKETS]
  *               [--hash-seed S] [-o <outDir>]
  *               (DSIR importance resampling toward the target corpus;
  *               --target is a parquet whose first column is doc ids)
  *   semdedup    --vectors <dir> [--vec-col embedding] [--id-col vec_id]
  *               [--threshold T] [--cells N] [-o <outDir>]
  *               (embedding-space dedup report: doc_id, keeper, reason)
  *   topics      --docs <dir> --vectors <dir> [--text-col text]
  *               [--id-col doc_id] [--cells N] [--top-k K] [-o <outDir>]
  *               (c-TF-IDF topic labels per IVF cell; embedding ids
  *               must match doc ids)
  *   bpe         --docs <dir> [--text-col text] [--merges N] [-o <outDir>]
  *               (learn a BPE merge table over the corpus)
  *   wordmaint   --docs <base dir> [--delta <added docs dir>]
  *               [--target <removed docs dir (with text)>] [--merges N]
  *               (maintain the tokenizer word store, re-induce merges)
  *   dupspans    --docs <dir> [--shingle-size L] [--min-count N]
  *               (maximal corpus-duplicated substring report)
  *   scrubspans  --docs <dir> [--shingle-size L] [--min-count N]
  *               [--mode keepone|all] (duplicate-span scrub: keepone =
  *               Lee et al. keep one canonical occurrence; all = the
  *               destructive twin)
  *   autotune    --docs <dir> --cols <band candidates, e.g. 2,4,8>
  *               [--budget CANDIDATE_PAIRS] [--threshold T]
  *               (measured banding auto-tune, then serve near-dups at
  *               the winner)
  *   layoutversions --docs <layout store dir>
  *               [--mode vacuum|recover|report]
  *               [--budget KEEP_VERSIONS] (layout snapshot lifecycle:
  *               purge below the kept horizon, drop a crashed
  *               publisher's snapshot, or report the committed chain)
  *   anneras     --docs <index dir> [--mode vacuum|recover|report]
  *               [--budget KEEP_VERSIONS] (versioned ANN index:
  *               purge versions below the kept horizon, drop a
  *               crashed retrain's claim, or report the latest)
  *   rankmaint   --docs <edge table dir> --target <rank store dir>
  *               [--threshold DAMPING (build only)] [--budget ITERS]
  *               (maintained PageRank store: cold build + save on
  *               first run, warm-start maintenance off the store's
  *               own damping afterwards)
  *   momentsmaint --vectors <base dir> [--delta <added dir>]
  *               [--target <removed dir (with embeddings)>]
  *               (maintain the exact PCA moment store — refit-ready
  *               without a corpus rescan)
  *   incrdedup   --docs <corpus dir> --target <sig index dir>
  *               [--delta <new batch dir>] [--threshold T]
  *               [--shingle-size L] [--hash-seed S]
  *               (daily-increment near-dedup off the persisted
  *               signature index; the derivation identity rides the
  *               store, so later batches cannot misalign)
  *   tokenbatch  --docs <dir> [--cols <lenCol>] [--budget B]
  *               [--buckets N] [--mode rows|waste]
  *               (fixed-compute batches under a token budget)
  *   autorebatch --docs <dir> --cols <candidates, e.g. 4,32,256>
  *               [--budget B] (granularity by measured padding waste)
  *   opqrotate   --vectors <dir> [--vec-col c] [--id-col c]
  *               (oracle-portable OPQ Givens-cascade rotation)
  *   unigram     --docs <dir> [--text-col text] [--iterations R]
  *               [--top-k V] [-o <outDir>]
  *               (unigram-LM tokenizer vocab: substring candidates →
  *               hard-EM over Viterbi segmentations → (piece, count,
  *               cost) — the SentencePiece estimator beside bpe)
  *   codeextract --docs <dir> [--text-col text] [-o <outDir>]
  *               (split fenced code blocks out of markdown: code_text,
  *               prose_text, n_fences, code_chars, fence_langs)
  *   zipf        --docs <dir> [--text-col text] [--min-common F]
  *               [-o <outDir>]
  *               (Zipf power-law alpha over token frequencies — the
  *               corpus-health number; f_min = --min-common)
  *   cusum       --docs <dir> --entity-col e --ts-col t --id-col i
  *               --value-col v [--slack K] [--alarm H] [-o <outDir>]
  *               (two-sided CUSUM level-shift flags; value must be
  *               integer-valued — pre-scale floats)
  *   seasonal    --docs <dir> --entity-col e --ts-col t --id-col i
  *               --value-col v [--period P] [--half-window H]
  *               [-o <outDir>]   (trend + seasonal + residual)
  *   curate      --docs <dir> --bench <dir> [--text-col text]
  *               [--id-col doc_id] [--min-words N] [--quota-group <col>]
  *               [--quota N] -o <outDir>   (writes corpus/ and report/)
  *   decontaminate --docs <dir> --bench <dir> [--shingle-size N]
  *               [--mode exact|hashed|bloom] [-o <outDir>]
  *               (the clean corpus: docs minus eval-overlap flags)
  *   score       --docs <dir> --weights <dir> [--dim N] [--text-col text]
  *               [--id-col doc_id] [-o <outDir>]
  *               (hashed-feature linear quality score + keep probability;
  *               --weights is a (feature_id, weight) parquet — a trained
  *               model's export)
  *   trend       --docs <dir> --entity-col e --ts-col t --value-col v
  *               [--x-unit SEC] [-o <outDir>]
  *               (per-entity OLS slope/intercept/r²; integer value)
  *   theilsen    --docs <dir> --entity-col e --ts-col t --value-col v
  *               [--x-unit SEC] [--max-points N] [-o <outDir>]
  *               (robust median-of-slopes trend; capped entities are
  *               reported to <outDir>/theilsen_overflow)
  *   rfm         --docs <dir> --entity-col e --ts-col t --value-col amt
  *               [--tiles N] [-o <outDir>]
  *               (recency/frequency/monetary quantile scores)
  *   sessions    --docs <dir> --entity-col e --ts-col t --id-col i
  *               [--interval GAP_SEC] [-o <outDir>]
  *               (gap-based sessionization summary)
  *   attribution --docs <dir> --entity-col e --ts-col t --id-col i
  *               --type-col c --stages <convType,touch1,touch2,...>
  *               [--window-sec LOOKBACK] [-o <outDir>]
  *               (first/last-touch credit per conversion)
  *   assoc       --docs <facts dir> --group-col g --item-col i
  *               [--max-group-size N] [--min-count N]
  *               [--min-confidence C] [-o <outDir>]
  *               (association rules; capped baskets reported to
  *               <outDir>/assoc_overflow)
  *   skyline     --docs <dir> --x-col x --y-col y [--buckets N]
  *               [-o <outDir>]   (Pareto frontier, both axes minimized)
  *   corr        --docs <dir> --target <col1,col2,...> [-o <outDir>]
  *               (pairwise Pearson matrix; integer-valued columns)
  *   spearman    --docs <dir> --x-col a --y-col b [-o <outDir>]
  *               (rank correlation — the outlier-proof monotonic
  *               association; integer-valued columns)
  *   kendall     --docs <dir> --x-col a --y-col b [-o <outDir>]
  *               (Kendall τ-b — tie-adjusted concordance over the
  *               joint value histogram; feed aggregated frames)
  *   welch       --docs <prev dir> --bench <cur dir> --value-col v
  *               [-o <outDir>]   (Welch two-sample t drift test)
  *   mannwhitney --docs <prev dir> --bench <cur dir> --value-col v
  *               [-o <outDir>]   (rank-sum drift test, exact ties)
  *   anomaly     --docs <dir> --entity-col e --ts-col t --id-col i
  *               --value-col v [--period P] [--half-window H]
  *               [--z-threshold Z] [-o <outDir>]
  *               (seasonally-adjusted residual z-flags)
  *   interarrival --docs <dir> --entity-col e --ts-col t --id-col i
  *               [-o <outDir>]  (gap mean/sd/cv + burstiness)
  *   entropy     --docs <dir> --group-col g --value-col v [-o <outDir>]
  *               (per-group Shannon diversity, bits)
  *   negatives   --docs <dir> [--id-col doc_id] [--per-anchor K]
  *               [--hash-seed S] [-o <outDir>]
  *               (deterministic contrastive negative pairs; default 5
  *               negatives per anchor)
  *   sequences   --docs <dir> --entity-col e --ts-col t --id-col i
  *               --type-col c [--n N] [--top-k K] [-o <outDir>]
  *               (top-k frequent event-type n-grams)
  *   transitions --docs <dir> --entity-col e --ts-col t --id-col i
  *               --type-col c [-o <outDir>]
  *               (first-order Markov transition matrix)
  *   outliers    --docs <dir> --value-col v [--group-col g]
  *               [--mode iqr|z|mad|hbos] [--k-factor K — iqr fence
  *               multiplier] [--z-threshold Z — z AND mad cut, both in
  *               σ-equivalents] [-o <outDir>]
  *               (three outlier detectors, one surface)
  *   skew        --docs <dir> --group-col <join key> [-o <outDir>]
  *               (join-key concentration report)
  *
  * Common options: `--master local[N]`, `--checkpoint-dir <dir>` (switches
  * every iterative operator to the fault-tolerant
  * [[Checkpointer.Reliable]] — pass an HDFS/S3 path on a cluster).
  * Without `-o`, graph results print to stdout (top 100 rows) instead of
  * being written.
  */
object Analyze {

  private[graft] case class Args(
      command: String = "",
      edges: String = "",
      docs: String = "",
      bench: String = "",
      textCol: String = "text",
      idCol: String = "doc_id",
      direction: String = "out",
      iterations: Int = 10,
      damping: Double = 0.85,
      hops: Int = 3,
      maxIter: Int = 50,
      seeds: Seq[Long] = Nil,
      weightCol: Option[String] = None,
      minWords: Int = 50,
      minCommon: Int = 1,
      maxHubDegree: Option[Int] = None,
      kCore: Int = 2,
      quotaGroup: Option[String] = None,
      quota: Int = Int.MaxValue,
      weights: String = "",
      dim: Int = 1024,
      shingleSize: Int = 3,
      mode: String = "exact",
      walkLength: Int = 10,
      hashSeed: Long = 42L,
      returnWeight: Long = 1L,
      commonWeight: Long = 4L,
      exploreWeight: Long = 2L,
      target: String = "",
      delta: String = "",
      topK: Int = 1000,
      entityCol: String = "",
      tsCol: String = "",
      valueCol: String = "",
      intervalSec: Long = 3600L,
      vectors: String = "",
      vecCol: String = "embedding",
      // None = the flag was never given. Call sites that want the
      // semdedup-tuned default read `threshold`; hbos (whose score scale
      // is unrelated) substitutes its own default ONLY when unset, so an
      // explicit `--threshold 0.95` is honored everywhere.
      thresholdOpt: Option[Double] = None,
      cells: Int = 256,
      merges: Int = 8,
      slack: Long = 0L,
      alarm: Long = 1L,
      period: Int = 7,
      halfWindow: Int = 3,
      maxLag: Int = 3,
      typeCol: String = "event_type",
      stages: Seq[String] = Nil,
      windowSec: Long = 2592000L,
      alpha: Double = 0.2,
      beta: Double = 0.1,
      gamma: Double = 0.1,
      windowRows: Int = 12,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0,
      groupCol: String = "",
      itemCol: String = "",
      maxGroupSize: Int = 100,
      minCount: Long = 1L,
      minCountSet: Boolean = false,
      minConfidence: Double = 0.0,
      xCol: String = "",
      yCol: String = "",
      buckets: Int = 1024,
      tiles: Int = 5,
      colsList: Seq[String] = Nil,
      bits: Int = 8,
      maxPoints: Int = 2000,
      xUnitSec: Long = 86400L,
      zThreshold: Double = 3.0,
      nGram: Int = 3,
      kFactor: Double = 1.5,
      negPerAnchor: Int = 5,
      subBuckets: Int = 16,
      pqM: Int = 8,
      pqK: Int = 16,
      probes: Int = 8,
      epochs: Int = 1,
      budget: Long = 4096L,
      budgetSet: Boolean = false,
      qsList: Seq[Double] = Seq(0.5, 0.9, 0.99),
      coarseRounds: Int = 8,
      valK: Int = 0,
      testK: Int = 0,
      strataCol: String = "",
      clusterCol: String = "",
      testFraction: Double = 0.2,
      rerank: Int = 0,
      maxHamming: Int = 2,
      binCol: String = "payload",
      quotient: String = "",
      corpus: String = "",
      outDir: String = "",
      checkpointDir: Option[String] = None,
      master: String = s"local[${Runtime.getRuntime.availableProcessors}]") {
    /** The similarity-tier default (semdedup cosine cut) when the flag
      * was never given; hbos reads [[thresholdOpt]] directly instead. */
    def threshold: Double = thresholdOpt.getOrElse(0.95)
  }

  private val usage =
    "usage: <degrees|pagerank|components|scc|triangles|khop|paths|curate|" +
      "acf|funnel|holt|psi|keywords|cooccur|...> " +
      "--edges <dir> | --docs <dir> --bench <dir> [options]"

  private[graft] def parse(argv: List[String]): Args = {
    require(argv.nonEmpty, usage)
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--edges" :: v :: t => loop(t, acc.copy(edges = v))
      case "--docs" :: v :: t => loop(t, acc.copy(docs = v))
      case "--bench" :: v :: t => loop(t, acc.copy(bench = v))
      case "--text-col" :: v :: t => loop(t, acc.copy(textCol = v))
      case "--id-col" :: v :: t => loop(t, acc.copy(idCol = v))
      case "--direction" :: v :: t => loop(t, acc.copy(direction = v))
      case "--iterations" :: v :: t => loop(t, acc.copy(iterations = v.toInt))
      case "--damping" :: v :: t => loop(t, acc.copy(damping = v.toDouble))
      case "--hops" :: v :: t => loop(t, acc.copy(hops = v.toInt))
      case "--max-iter" :: v :: t => loop(t, acc.copy(maxIter = v.toInt))
      case "--seeds" :: v :: t =>
        loop(t, acc.copy(seeds = v.split(",").toSeq.map(_.trim.toLong)))
      case "--weight-col" :: v :: t => loop(t, acc.copy(weightCol = Some(v)))
      case "--min-words" :: v :: t => loop(t, acc.copy(minWords = v.toInt))
      case "--min-common" :: v :: t => loop(t, acc.copy(minCommon = v.toInt))
      case "--k" :: v :: t => loop(t, acc.copy(kCore = v.toInt))
      case "--max-hub-degree" :: v :: t =>
        loop(t, acc.copy(maxHubDegree = Some(v.toInt)))
      case "--quota-group" :: v :: t => loop(t, acc.copy(quotaGroup = Some(v)))
      case "--quota" :: v :: t => loop(t, acc.copy(quota = v.toInt))
      case "--weights" :: v :: t => loop(t, acc.copy(weights = v))
      case "--dim" :: v :: t => loop(t, acc.copy(dim = v.toInt))
      case "--shingle-size" :: v :: t => loop(t, acc.copy(shingleSize = v.toInt))
      case "--mode" :: v :: t => loop(t, acc.copy(mode = v))
      case "--walk-length" :: v :: t => loop(t, acc.copy(walkLength = v.toInt))
      case "--hash-seed" :: v :: t => loop(t, acc.copy(hashSeed = v.toLong))
      case "--return-weight" :: v :: t =>
        loop(t, acc.copy(returnWeight = v.toLong))
      case "--common-weight" :: v :: t =>
        loop(t, acc.copy(commonWeight = v.toLong))
      case "--explore-weight" :: v :: t =>
        loop(t, acc.copy(exploreWeight = v.toLong))
      case "--target" :: v :: t => loop(t, acc.copy(target = v))
      case "--delta" :: v :: t => loop(t, acc.copy(delta = v))
      case "--pq-m" :: v :: t => loop(t, acc.copy(pqM = v.toInt))
      case "--pq-k" :: v :: t => loop(t, acc.copy(pqK = v.toInt))
      case "--probes" :: v :: t => loop(t, acc.copy(probes = v.toInt))
      case "--epochs" :: v :: t => loop(t, acc.copy(epochs = v.toInt))
      case "--budget" :: v :: t =>
        loop(t, acc.copy(budget = v.toLong, budgetSet = true))
      case "--top-k" :: v :: t => loop(t, acc.copy(topK = v.toInt))
      case "--entity-col" :: v :: t => loop(t, acc.copy(entityCol = v))
      case "--ts-col" :: v :: t => loop(t, acc.copy(tsCol = v))
      case "--value-col" :: v :: t => loop(t, acc.copy(valueCol = v))
      case "--interval" :: v :: t => loop(t, acc.copy(intervalSec = v.toLong))
      case "--window-rows" :: v :: t =>
        loop(t, acc.copy(windowRows = v.toInt))
      case "--bins" :: v :: t => loop(t, acc.copy(bins = v.toInt))
      case "--lo" :: v :: t => loop(t, acc.copy(lo = v.toDouble))
      case "--hi" :: v :: t => loop(t, acc.copy(hi = v.toDouble))
      case "--group-col" :: v :: t => loop(t, acc.copy(groupCol = v))
      case "--item-col" :: v :: t => loop(t, acc.copy(itemCol = v))
      case "--max-group-size" :: v :: t =>
        loop(t, acc.copy(maxGroupSize = v.toInt))
      case "--min-confidence" :: v :: t =>
        loop(t, acc.copy(minConfidence = v.toDouble))
      // the match above is at the JVM method-size limit (each case
      // inlines an Args.copy call site that passes EVERY field) —
      // later flags live in a second tier (loopB) chained on
      // fallthrough
      case other => loopB(other, acc)
    }
    def loopB(rest: List[String], acc: Args): Args = rest match {
      case "--x-col" :: v :: t => loop(t, acc.copy(xCol = v))
      case "--y-col" :: v :: t => loop(t, acc.copy(yCol = v))
      case "--buckets" :: v :: t => loop(t, acc.copy(buckets = v.toInt))
      case "--tiles" :: v :: t => loop(t, acc.copy(tiles = v.toInt))
      case "--max-points" :: v :: t =>
        loop(t, acc.copy(maxPoints = v.toInt))
      case "--min-count" :: v :: t =>
        loop(t, acc.copy(minCount = v.toLong, minCountSet = true))
      case "-o" :: v :: t => loop(t, acc.copy(outDir = v))
      case "--checkpoint-dir" :: v :: t =>
        loop(t, acc.copy(checkpointDir = Some(v)))
      case "--master" :: v :: t => loop(t, acc.copy(master = v))
      case "--vectors" :: v :: t => loop(t, acc.copy(vectors = v))
      case "--vec-col" :: v :: t => loop(t, acc.copy(vecCol = v))
      case "--threshold" :: v :: t =>
        loop(t, acc.copy(thresholdOpt = Some(v.toDouble)))
      case "--cells" :: v :: t => loop(t, acc.copy(cells = v.toInt))
      case "--merges" :: v :: t => loop(t, acc.copy(merges = v.toInt))
      case "--slack" :: v :: t => loop(t, acc.copy(slack = v.toLong))
      case "--alarm" :: v :: t => loop(t, acc.copy(alarm = v.toLong))
      case "--period" :: v :: t => loop(t, acc.copy(period = v.toInt))
      case "--half-window" :: v :: t => loop(t, acc.copy(halfWindow = v.toInt))
      case "--max-lag" :: v :: t => loop(t, acc.copy(maxLag = v.toInt))
      case "--type-col" :: v :: t => loop(t, acc.copy(typeCol = v))
      case "--stages" :: v :: t =>
        loop(t, acc.copy(stages = v.split(',').toSeq.map(_.trim)))
      case "--cols" :: v :: t =>
        loop(t, acc.copy(colsList = v.split(',').toSeq.map(_.trim)))
      case "--bits" :: v :: t => loop(t, acc.copy(bits = v.toInt))
      case "--window-sec" :: v :: t => loop(t, acc.copy(windowSec = v.toLong))
      case "--alpha" :: v :: t => loop(t, acc.copy(alpha = v.toDouble))
      case "--beta" :: v :: t => loop(t, acc.copy(beta = v.toDouble))
      case "--gamma" :: v :: t => loop(t, acc.copy(gamma = v.toDouble))
      case "--x-unit" :: v :: t => loop(t, acc.copy(xUnitSec = v.toLong))
      case "--z-threshold" :: v :: t =>
        loop(t, acc.copy(zThreshold = v.toDouble))
      case "--n" :: v :: t => loop(t, acc.copy(nGram = v.toInt))
      case "--k-factor" :: v :: t =>
        loop(t, acc.copy(kFactor = v.toDouble))
      case "--per-anchor" :: v :: t =>
        loop(t, acc.copy(negPerAnchor = v.toInt))
      case "--coarse-rounds" :: v :: t =>
        loop(t, acc.copy(coarseRounds = v.toInt))
      case "--val-k" :: v :: t => loop(t, acc.copy(valK = v.toInt))
      case "--test-k" :: v :: t => loop(t, acc.copy(testK = v.toInt))
      case "--strata-col" :: v :: t => loop(t, acc.copy(strataCol = v))
      case "--cluster-col" :: v :: t => loop(t, acc.copy(clusterCol = v))
      case "--rerank" :: v :: t => loop(t, acc.copy(rerank = v.toInt))
      case "--max-hamming" :: v :: t =>
        loop(t, acc.copy(maxHamming = v.toInt))
      case "--bin-col" :: v :: t => loop(t, acc.copy(binCol = v))
      case "--quotient" :: v :: t => loop(t, acc.copy(quotient = v))
      case "--corpus" :: v :: t => loop(t, acc.copy(corpus = v))
      case "--test-fraction" :: v :: t =>
        loop(t, acc.copy(testFraction = v.toDouble))
      case "--sub-buckets" :: v :: t =>
        loop(t, acc.copy(subBuckets = v.toInt))
      case "--qs" :: v :: t =>
        loop(t, acc.copy(qsList = v.split(',').toSeq.map(_.trim.toDouble)))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument '$other'; $usage")
      case Nil => acc
    }
    loop(argv.tail, Args(command = argv.head))
  }

  /** Core dispatch, session-agnostic (main owns the session; tests pass
    * the shared one). Returns the result frame for graph commands, the
    * curated corpus for `curate`. */
  private[graft] def run(args: Args, spark: SparkSession): DataFrame = {
    val ckpt = args.checkpointDir match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        Checkpointer.Reliable
      case None => Checkpointer.Local
    }
    def edges: DataFrame = {
      require(args.edges.nonEmpty, s"${args.command} needs --edges <dir>")
      spark.read.parquet(args.edges)
    }
    def seedsDf: DataFrame = {
      require(args.seeds.nonEmpty,
        s"${args.command} needs --seeds <id,id,...>")
      import spark.implicits._
      args.seeds.toDF("id")
    }
    val result = args.command match {
      case "degrees" => GraphOps.degrees(edges, args.direction)
      case "pagerank" =>
        GraphOps.pageRank(edges, args.damping, args.iterations, ckpt = ckpt,
          weightCol = args.weightCol)
      case "components" => GraphOps.connectedComponents(edges, ckpt = ckpt)
      case "scc" =>
        GraphOps.stronglyConnectedComponents(edges,
          maxIter = args.maxIter, ckpt = ckpt)
      case "topolevels" =>
        GraphOps.topologicalLevels(
          GraphOps.condensation(edges,
            GraphOps.stronglyConnectedComponents(edges,
              maxIter = args.maxIter, ckpt = ckpt)),
          maxIter = args.maxIter * 4, ckpt = ckpt)
      case "dagreach" =>
        GraphOps.descendantCounts(
          GraphOps.condensation(edges,
            GraphOps.stronglyConnectedComponents(edges,
              maxIter = args.maxIter, ckpt = ckpt)),
          reverse = args.direction == "in", ckpt = ckpt)
      case "reach" =>
        GraphOps.landmarkReachability(edges, seedsDf,
          maxIter = args.maxIter, ckpt = ckpt)
      case "bridges" =>
        GraphOps.bridges(edges, maxIter = args.maxIter, ckpt = ckpt)
      case "articulation" =>
        GraphOps.articulationPoints(edges, maxIter = args.maxIter,
          ckpt = ckpt)
      case "imagededup" =>
        require(args.docs.nonEmpty, "imagededup needs --docs <dir>")
        graft.operators.Multimodal.imageNearDups(
          spark.read.parquet(args.docs), args.binCol, args.idCol,
          args.maxHamming, ckpt = ckpt)
      case "audiodedup" =>
        require(args.docs.nonEmpty, "audiodedup needs --docs <dir>")
        graft.operators.Multimodal.audioNearDups(
          spark.read.parquet(args.docs), args.binCol, args.idCol,
          args.maxHamming, ckpt = ckpt)
      case "videodedup" =>
        require(args.docs.nonEmpty, "videodedup needs --docs <dir>")
        graft.operators.Multimodal.videoNearDups(
          spark.read.parquet(args.docs), args.binCol, args.idCol,
          args.maxHamming, ckpt = ckpt)
      case "audiostats" =>
        require(args.docs.nonEmpty, "audiostats needs --docs <dir>")
        graft.operators.Multimodal.extractAudioQuality(
          spark.read.parquet(args.docs), args.binCol)
      case "imagestats" =>
        // image quality triage — audiostats' image twin: exact integer
        // luma verdicts (exposure counts, histogram bounds, modal
        // count) as a nullable image_q struct
        require(args.docs.nonEmpty, "imagestats needs --docs <dir>")
        graft.operators.Multimodal.extractImageQuality(
          spark.read.parquet(args.docs), args.binCol)
      case "exifstats" =>
        // EXIF/ICC header triage — the pre-decode verdicts: rotation,
        // GPS PII, capture time, ICC mass as a nullable exif_q struct
        require(args.docs.nonEmpty, "exifstats needs --docs <dir>")
        graft.operators.Multimodal.extractExifTriage(
          spark.read.parquet(args.docs), args.binCol)
      case "videostats" =>
        // video quality triage — completes the per-modality grid:
        // sample-table verdicts + integer-division bitrate as a
        // nullable video_q struct
        require(args.docs.nonEmpty, "videostats needs --docs <dir>")
        graft.operators.Multimodal.extractVideoQuality(
          spark.read.parquet(args.docs), args.binCol)
      case "schemadrift" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty,
          "schemadrift needs --docs <previous dir> and --bench " +
            "<current dir>")
        graft.operators.SnapshotDiff.schemaDrift(
          spark.read.parquet(args.docs), spark.read.parquet(args.bench))
      case "intervals" =>
        require(args.docs.nonEmpty && args.groupCol.nonEmpty &&
          args.xCol.nonEmpty && args.yCol.nonEmpty,
          "intervals needs --docs <dir>, --group-col <key>, --x-col " +
            "<start>, --y-col <end>; --slack sets the merge gap")
        graft.operators.Funnel.mergeIntervals(
          spark.read.parquet(args.docs), args.groupCol, args.xCol,
          args.yCol, args.slack)
      case "intervaldel" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty &&
          args.delta.nonEmpty && args.groupCol.nonEmpty &&
          args.xCol.nonEmpty && args.yCol.nonEmpty,
          "intervaldel needs --docs <stored islands dir>, --bench " +
            "<post-delete raw dir>, --delta <deleted rows dir>, " +
            "--group-col <key>, --x-col <start>, --y-col <end>; " +
            "--slack sets the merge gap")
        graft.operators.Funnel.deleteIntervals(
          spark.read.parquet(args.docs), spark.read.parquet(args.bench),
          spark.read.parquet(args.delta), args.groupCol, args.xCol,
          args.yCol, args.slack)
      case "anndelete" =>
        require(args.target.nonEmpty && args.vectors.nonEmpty,
          "anndelete needs --target <index dir> and --vectors <ids " +
            "parquet>; --id-col names the id column (default doc_id)")
        graft.operators.Similarity.deleteFromIndex(spark, args.target,
          spark.read.parquet(args.vectors), args.idCol)
      case "anncompact" =>
        require(args.target.nonEmpty,
          "anncompact needs --target <index dir>")
        graft.operators.Similarity.compactIndex(spark, args.target)
      case "annretrain" =>
        require(args.target.nonEmpty && args.vectors.nonEmpty,
          "annretrain needs --target <index dir> and --vectors " +
            "<float corpus dir> (codes are lossy — retraining reads " +
            "the source vectors); --vec-col/--id-col name the columns")
        graft.operators.Similarity.retrainIndex(spark, args.target,
          spark.read.parquet(args.vectors), args.vecCol, args.idCol)
      case "annmaint" =>
        // the self-driving maintenance policy: compact, read the
        // measured drift verdict, retrain only when it says so —
        // --threshold (if set) overrides the calibrated 2σ tolerance
        require(args.target.nonEmpty && args.vectors.nonEmpty,
          "annmaint needs --target <index dir> and --vectors <float " +
            "corpus dir> (read only if the verdict retrains); " +
            "--threshold overrides the drift tolerance")
        graft.operators.Similarity.maintainIndex(spark, args.target,
          spark.read.parquet(args.vectors), args.vecCol, args.idCol,
          args.thresholdOpt.getOrElse(Double.NaN))
      case "triangles" => GraphOps.triangleCounts(edges, ckpt = ckpt)
      case "khop" => GraphOps.kHop(edges, seedsDf, args.hops, ckpt)
      case "linkpred" =>
        GraphOps.linkPrediction(edges, args.minCommon, args.maxHubDegree)
      case "kcore" => GraphOps.kCore(edges, args.kCore, ckpt = ckpt)
      case "communities" =>
        GraphOps.labelPropagation(edges, args.iterations, ckpt = ckpt)
      case "louvain" =>
        GraphOps.louvainMultiLevel(edges, fineRounds = args.iterations,
          coarseRounds = args.coarseRounds, seed = args.hashSeed,
          weightCol = args.weightCol, ckpt = ckpt)
      case "leiden" =>
        GraphOps.leiden(edges, fineRounds = args.iterations,
          coarseRounds = args.coarseRounds, seed = args.hashSeed,
          weightCol = args.weightCol, ckpt = ckpt)
      case "incremental" =>
        require(args.edges.nonEmpty && args.delta.nonEmpty &&
          args.target.nonEmpty,
          "incremental needs --edges <all dir>, --delta <new-edges " +
            "dir>, and --target <stored (id, community) labels dir>")
        GraphOps.incrementalCommunities(edges,
          spark.read.parquet(args.delta),
          spark.read.parquet(args.target),
          rounds = args.iterations, hops = args.hops,
          seed = args.hashSeed, weightCol = args.weightCol, ckpt = ckpt)
      case "clusterdel" =>
        // decremental dup-cluster maintenance — the dedup tier's
        // takedown path: --edges is the stored verified-pair table,
        // --delta the removed doc ids; only touched clusters re-run CC
        // over their internal remaining pairs (exact by refinement)
        require(args.edges.nonEmpty && args.delta.nonEmpty &&
          args.target.nonEmpty,
          "clusterdel needs --edges <stored (id_a, id_b) pairs dir>, " +
            "--delta <deleted ids dir>, and --target <stored (id, " +
            "comp) clusters dir>; returns refreshed clusters")
        graft.operators.Dedup.decrementalDupClusters(
          spark.read.parquet(args.edges),
          spark.read.parquet(args.delta),
          spark.read.parquet(args.target),
          maxIter = args.maxIter, ckpt = ckpt)
      case "commdec" =>
        // decremental community maintenance — the takedown twin of
        // `incremental`: --edges is the POST-delete edge table (ground
        // truth), --delta the deleted rows; only communities holding a
        // deleted endpoint rebuild (gated rounds from singleton seeds
        // over their induced remaining subgraph)
        require(args.edges.nonEmpty && args.delta.nonEmpty &&
          args.target.nonEmpty,
          "commdec needs --edges <remaining-edges dir>, --delta " +
            "<deleted-edges dir>, and --target <stored (id, " +
            "community) labels dir>; returns refreshed labels")
        GraphOps.decrementalCommunities(edges,
          spark.read.parquet(args.delta),
          spark.read.parquet(args.target),
          rounds = args.iterations,
          seed = args.hashSeed, weightCol = args.weightCol, ckpt = ckpt)
      case "sccinc" =>
        // exact incremental SCC: --delta carries the NEW edges only
        // (the primitive never reads the accumulated edge table —
        // that's its point); the stored labels and condensation are
        // the state it updates
        require(args.delta.nonEmpty && args.target.nonEmpty &&
          args.quotient.nonEmpty,
          "sccinc needs --delta <new-edges dir>, --target <stored " +
            "(id, scc) labels dir>, and --quotient <stored (src_scc, " +
            "dst_scc) condensation dir>; returns refreshed labels")
        GraphOps.incrementalScc(spark.read.parquet(args.delta),
          spark.read.parquet(args.target),
          spark.read.parquet(args.quotient),
          maxIter = args.maxIter, ckpt = ckpt).labels
      case "sccdec" =>
        // exact decremental SCC: --edges is the POST-delete edge table
        // (ground truth for the touched regions), --delta the deleted
        // rows; only SCCs incident to a delete are re-derived
        require(args.edges.nonEmpty && args.delta.nonEmpty &&
          args.target.nonEmpty && args.quotient.nonEmpty,
          "sccdec needs --edges <remaining-edges dir>, --delta " +
            "<deleted-edges dir>, --target <stored (id, scc) labels " +
            "dir>, and --quotient <stored condensation dir>; returns " +
            "refreshed labels")
        GraphOps.decrementalScc(edges, spark.read.parquet(args.delta),
          spark.read.parquet(args.target),
          spark.read.parquet(args.quotient),
          maxIter = args.maxIter, ckpt = ckpt).labels
      case "neighagg" =>
        // k-round message passing; --value-col takes a comma list of
        // feature columns, --hops the round count, --mode the
        // aggregator (the sampling default "exact" means unset → sum)
        require(args.docs.nonEmpty && args.valueCol.nonEmpty,
          "neighagg needs --edges <dir>, --docs <features dir>, and " +
            "--value-col <f1,f2,...>; --hops sets rounds, --mode the " +
            "aggregator (sum|max|min|mean), --direction in|out|both")
        GraphOps.neighborAgg(edges, spark.read.parquet(args.docs),
          args.idCol, args.valueCol.split(',').toSeq.map(_.trim),
          rounds = args.hops, direction = args.direction,
          agg = if (args.mode == "exact") "sum" else args.mode,
          ckpt = ckpt)
      case "neighmaint" =>
        // exact neighborAgg maintenance — adds, deletes, or both:
        // --edges is the post-change table (ground truth), --delta the
        // changed rows, --docs the base features, --target the stored
        // aggregate frame
        require(args.edges.nonEmpty && args.delta.nonEmpty &&
          args.docs.nonEmpty && args.target.nonEmpty &&
          args.valueCol.nonEmpty,
          "neighmaint needs --edges <post-change edges dir>, --delta " +
            "<changed rows dir>, --docs <features dir>, --target " +
            "<stored aggregate dir>, and --value-col <f1,f2,...>; " +
            "--hops sets rounds, --mode the aggregator, --direction " +
            "in|out|both")
        GraphOps.maintainNeighborAgg(edges,
          spark.read.parquet(args.delta),
          spark.read.parquet(args.docs),
          spark.read.parquet(args.target),
          args.idCol, args.valueCol.split(',').toSeq.map(_.trim),
          rounds = args.hops, direction = args.direction,
          agg = if (args.mode == "exact") "sum" else args.mode,
          ckpt = ckpt)
      case "quantiles" =>
        require(args.docs.nonEmpty && args.valueCol.nonEmpty,
          "quantiles needs --docs and --value-col (non-negative " +
            "integers); --group-col, --qs 0.5,0.99, --sub-buckets N " +
            "(a power of two) optional")
        graft.operators.Quantiles.hdrQuantiles(
          spark.read.parquet(args.docs), args.valueCol, args.qsList,
          args.subBuckets,
          Option(args.groupCol).filter(_.nonEmpty))
      case "split" =>
        if (args.clusterCol.nonEmpty) {
          // leakage-safe: the verdict hashes the dedup CLUSTER id, so
          // (near-)duplicates can never straddle train/test
          require(args.docs.nonEmpty,
            "split --cluster-col needs --docs (and optionally " +
              "--test-fraction, --hash-seed)")
          graft.operators.Sampling.splitByCluster(
            spark.read.parquet(args.docs), args.clusterCol,
            args.testFraction, args.hashSeed)
        } else {
          require(args.docs.nonEmpty && args.strataCol.nonEmpty &&
            (args.valK > 0 || args.testK > 0),
            "split needs --docs, --strata-col, and --val-k/--test-k " +
              "(exact per-stratum quotas; rest becomes train)")
          graft.operators.Sampling.stratifiedSplit(
            spark.read.parquet(args.docs), args.strataCol, args.idCol,
            args.valK, args.testK, args.hashSeed)
        }
      case "harmonic" =>
        GraphOps.harmonicCentrality(edges, seedsDf, args.hops, ckpt)
      case "betweenness" =>
        GraphOps.betweennessCentrality(edges, seedsDf, args.hops, ckpt)
      case "paths" =>
        GraphOps.shortestPaths(edges, seedsDf, args.weightCol,
          args.maxIter, ckpt)
      case "walks" =>
        GraphOps.randomWalks(edges, seedsDf, args.walkLength,
          args.hashSeed, ckpt)
      case "node2vec" =>
        GraphOps.biasedRandomWalks(edges, seedsDf, args.walkLength,
          args.returnWeight, args.commonWeight, args.exploreWeight,
          args.hashSeed, ckpt)
      case "hits" => GraphOps.hits(edges, args.iterations, ckpt = ckpt)
      case "mis" =>
        GraphOps.maximalIndependentSet(edges, args.hashSeed, ckpt = ckpt)
      case "modularity" =>
        // score a stored partition (--target, an (id, community) parquet)
        // or label in-line first: the LPA-then-score one-liner
        val communities =
          if (args.target.nonEmpty) spark.read.parquet(args.target)
          else GraphOps.labelPropagation(edges, args.iterations, ckpt)
        GraphOps.modularity(edges, communities)
      case "powerlaw" =>
        GraphOps.powerLawFit(edges, dMin = args.minCount)
      case "cohort" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty,
          "cohort needs --docs, --entity-col, --ts-col (epoch seconds); " +
            "--interval sets the bucket width (86400 daily, 604800 weekly)")
        graft.operators.Funnel.cohortRetention(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.intervalSec)
      case "gini" =>
        require(args.docs.nonEmpty && args.valueCol.nonEmpty,
          "gini needs --docs and --value-col (integer-valued — " +
            "pre-scale floats)")
        graft.operators.Validate.gini(spark.read.parquet(args.docs),
          args.valueCol)
      case "readability" =>
        require(args.docs.nonEmpty, "readability needs --docs <dir>")
        spark.read.parquet(args.docs)
          .select(col(args.idCol),
            graft.functions.GraftFunctions.reading_ease(col(args.textCol))
              .as("_r"))
          .select(col(args.idCol), col("_r.n_words"), col("_r.n_sentences"),
            col("_r.n_syllables"), col("_r.flesch"), col("_r.fk_grade"))
      case "resample" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "resample needs --docs, --entity-col, --ts-col, --value-col")
        val ts = spark.read.parquet(args.docs)
        args.mode match {
          case "exact" | "locf" => graft.operators.TimeSeries.resampleLocf(
            ts, args.entityCol, args.tsCol, args.valueCol, args.intervalSec)
          case "interp" => graft.operators.TimeSeries.resampleInterp(
            ts, args.entityCol, args.tsCol, args.valueCol, args.intervalSec)
          case other => throw new IllegalArgumentException(
            s"unknown --mode '$other' (locf|interp)")
        }
      case "dsir" =>
        require(args.docs.nonEmpty && args.target.nonEmpty,
          "dsir needs --docs <dir> and --target <dir>")
        graft.operators.Sampling.dsirSample(
          spark.read.parquet(args.docs), spark.read.parquet(args.target),
          args.idCol, args.textCol, args.topK, args.dim, args.hashSeed,
          ckpt)
      case "shuffle" =>
        require(args.docs.nonEmpty, "shuffle needs --docs <dir>")
        if (args.epochs > 1)
          graft.operators.Sampling.epochOrderMulti(
            spark.read.parquet(args.docs), args.idCol, args.epochs,
            args.hashSeed)
        else graft.operators.Sampling.epochOrder(
          spark.read.parquet(args.docs), args.idCol, args.hashSeed)
      case "curriculum" =>
        require(args.docs.nonEmpty && args.valueCol.nonEmpty,
          "curriculum needs --docs <dir> and --value-col <difficulty " +
            "score, low = easy> (plus --epochs)")
        graft.operators.Sampling.curriculumOrder(
          spark.read.parquet(args.docs), args.idCol, args.valueCol,
          args.epochs, seed = args.hashSeed)
      case "lenbatch" =>
        require(args.docs.nonEmpty && args.valueCol.nonEmpty &&
          args.quota != Int.MaxValue,
          "lenbatch needs --docs <dir>, --value-col <length column>, " +
            "and --quota <rows per batch>")
        graft.operators.Sampling.lengthGroupedBatches(
          spark.read.parquet(args.docs), args.idCol, args.valueCol,
          args.quota)
      case "pack" =>
        require(args.docs.nonEmpty && args.groupCol.nonEmpty &&
          args.valueCol.nonEmpty,
          "pack needs --docs <dir>, --group-col (shard/epoch), and " +
            "--value-col (positive integer token counts); --id-col " +
            "orders the stream, --budget sets the sequence length")
        graft.operators.Sampling.packByBudget(
          spark.read.parquet(args.docs), args.groupCol, args.idCol,
          args.valueCol, args.budget)
      case "annbuild" =>
        require(args.vectors.nonEmpty && args.target.nonEmpty,
          "annbuild needs --vectors <dir> and --target <index dir>")
        val idc = if (args.idCol == "doc_id") "vec_id" else args.idCol
        // the retrainIndex build, so a retrain on the same corpus
        // commits the same frames
        val (cents, cb, ae, st) = graft.operators.Similarity.buildIndex(
          spark.read.parquet(args.vectors), args.vecCol, idc, args.cells,
          args.pqM, args.pqK, residual = false)
        graft.operators.Similarity.saveIndex(args.target, cents, cb,
          ae.select(col(idc), col("codes"), col("centroid_id")),
          args.pqM, args.pqK, st.getDouble(0), st.getDouble(1))
        import spark.implicits._
        Seq((ae.count(), args.cells.toLong, args.pqM.toLong,
            args.pqK.toLong, st.getDouble(0)))
          .toDF("n_vectors", "cells", "pq_m", "pq_k",
            "mean_assign_cosine")
      case "annupdate" =>
        require(args.vectors.nonEmpty && args.target.nonEmpty,
          "annupdate needs --vectors <delta dir> and --target " +
            "<index dir>")
        graft.operators.Similarity.updateIndex(spark, args.target,
          spark.read.parquet(args.vectors), args.vecCol,
          if (args.idCol == "doc_id") "vec_id" else args.idCol)
      case "annquery" =>
        require(args.vectors.nonEmpty && args.target.nonEmpty,
          "annquery needs --vectors <queries dir> and --target " +
            "<index dir>")
        val ix = graft.operators.Similarity.loadIndex(spark, args.target)
        val annIdc = if (args.idCol == "doc_id") "vec_id" else args.idCol
        val annQs = spark.read.parquet(args.vectors)
        // the index's BASIS and CODEC identities apply here exactly as
        // in serveTopK (one serveIndex): queries rotate into the index
        // basis and residual stores decode through the cell-dependent
        // ADC — the CLI must never be the raw-serve backdoor the
        // library closed
        def annShortlist(k0: Int) = graft.operators.Similarity.serveIndex(
          ix, annQs, args.vecCol, annIdc, k0, args.probes)
        if (args.rerank > 0) {
          // two-stage serving: C-deep ADC shortlist from the stored
          // codes, then exact-cosine rerank over the fetched
          // full-precision rows (the stored index has codes only;
          // rerank runs entirely in the ORIGINAL space — raw queries
          // against raw corpus — so no basis bridging is needed)
          require(args.corpus.nonEmpty,
            "annquery --rerank needs --corpus <full-precision vectors>")
          graft.operators.Similarity.rerankTopK(
            annShortlist(args.rerank),
            annQs, spark.read.parquet(args.corpus), args.vecCol, annIdc,
            args.topK)
        } else annShortlist(args.topK)
      case "semdedup" =>
        require(args.vectors.nonEmpty, "semdedup needs --vectors <dir>")
        // id default flips to vec_id for the vector table; an explicit
        // --id-col wins (the text-tier default doc_id only applies when
        // the user never set the flag)
        graft.operators.Dedup.semanticDedup(
          spark.read.parquet(args.vectors), args.vecCol,
          if (args.idCol == "doc_id") "vec_id" else args.idCol,
          args.threshold, args.cells, ckpt = ckpt)
      case "lexmaint" =>
        // exact lexical-index maintenance: --docs is the base corpus
        // the store was built from, --delta the added/replacement
        // docs, --target the removed doc ids; output = served BM25
        // weights off the maintained store (≡ full rebuild)
        require(args.docs.nonEmpty,
          "lexmaint needs --docs <base corpus dir>; --delta <added " +
            "docs dir> and --target <removed doc ids dir> are the " +
            "change batch (either may be omitted)")
        val lexIx = graft.operators.Relevance.buildLexIndex(
          spark.read.parquet(args.docs), args.idCol, args.textCol)
        val lexAdds =
          if (args.delta.nonEmpty) spark.read.parquet(args.delta)
          else spark.read.parquet(args.docs).limit(0)
        val lexDels =
          if (args.target.nonEmpty) spark.read.parquet(args.target)
          else spark.read.parquet(args.docs).select(args.idCol).limit(0)
        graft.operators.Relevance.bm25FromIndex(
          graft.operators.Relevance.maintainLexIndex(
            lexIx, lexAdds, lexDels, args.idCol, args.textCol))
      case "domattr" =>
        // per-domain contamination attribution: which source leaked
        // the benchmark — --entity-col names the URL column
        require(args.docs.nonEmpty && args.bench.nonEmpty,
          "domattr needs --docs <dir> and --bench <dir>; " +
            "--entity-col <url column> (default url), --shingle-size N")
        graft.operators.Decontaminate.contaminationByDomain(
          spark.read.parquet(args.docs), args.textCol, args.idCol,
          if (args.entityCol.nonEmpty) args.entityCol else "url",
          spark.read.parquet(args.bench), args.textCol,
          args.shingleSize)
      case "scrubdecon" =>
        // span-level decontamination: scrub benchmark-overlapping
        // spans in place instead of dropping whole documents
        require(args.docs.nonEmpty && args.bench.nonEmpty,
          "scrubdecon needs --docs <dir> and --bench <dir>; " +
            "--shingle-size sets the overlap unit")
        graft.operators.Decontaminate.scrubContaminatedSpans(
          spark.read.parquet(args.docs), args.textCol, args.idCol,
          spark.read.parquet(args.bench), args.textCol,
          args.shingleSize)
      case "decontaminate" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty,
          "decontaminate needs --docs <dir> and --bench <dir>")
        val docs = spark.read.parquet(args.docs)
        val bench = spark.read.parquet(args.bench)
        val flagged = (args.mode match {
          case "exact" => graft.operators.Decontaminate.contaminationPairs(
            docs, args.textCol, args.idCol, bench, args.textCol, args.idCol,
            args.shingleSize)
          case "hashed" =>
            graft.operators.Decontaminate.contaminationPairsHashed(
              docs, args.textCol, args.idCol, bench, args.textCol,
              args.idCol, args.shingleSize)
          case "bloom" =>
            graft.operators.Decontaminate.contaminationPairsBloom(
              docs, args.textCol, args.idCol, bench, args.textCol,
              args.idCol, args.shingleSize)
          case other => throw new IllegalArgumentException(
            s"unknown --mode '$other' (exact|hashed|bloom)")
        }).select(col("doc_id").as("_flagged_id")).distinct()
        docs.join(flagged, docs(args.idCol) === col("_flagged_id"),
          "left_anti")

      case "topics" =>
        require(args.docs.nonEmpty && args.vectors.nonEmpty,
          "topics needs --docs <dir> and --vectors <dir> (embeddings " +
            "whose ids match the doc ids)")
        val vecs = spark.read.parquet(args.vectors)
        val vid = if (args.idCol == "doc_id") "vec_id" else args.idCol
        val (_, assigned) = graft.operators.Similarity.ivfIndex(
          vecs.select(col(vid), col(args.vecCol)), args.vecCol, vid,
          args.cells)
        graft.operators.Relevance.clusterTopics(
          assigned.select(col(vid).as(args.idCol),
            col("centroid_id").as("cluster_id")),
          spark.read.parquet(args.docs), args.idCol, args.textCol,
          args.topK)
      case "bpe" =>
        require(args.docs.nonEmpty, "bpe needs --docs <dir>")
        val (mergeTable, _) = graft.operators.Tokenizer.bpeMerges(
          spark.read.parquet(args.docs), args.textCol, args.merges, ckpt)
        mergeTable
      case "unigram" =>
        require(args.docs.nonEmpty, "unigram needs --docs <dir>; " +
          "--iterations sets EM rounds (≤16), --top-k the multi-char " +
          "vocab budget, --text-col the column")
        graft.operators.Tokenizer.unigramTrain(
          spark.read.parquet(args.docs), args.textCol,
          rounds = math.min(args.iterations, 16),
          maxVocab = args.topK, ckpt = ckpt)
      case "codeextract" =>
        require(args.docs.nonEmpty, "codeextract needs --docs <dir>; " +
          "--text-col names the markdown column (default text)")
        graft.operators.Curation.extractCodeBlocks(
          spark.read.parquet(args.docs), args.textCol)
      case "zipf" =>
        require(args.docs.nonEmpty, "zipf needs --docs <dir>; " +
          "--text-col names the text column, --min-common sets f_min")
        graft.operators.Relevance.zipfAlpha(
          spark.read.parquet(args.docs), args.textCol,
          args.minCommon.toLong)
      case "cusum" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "cusum needs --docs, --entity-col, --ts-col, --value-col " +
            "(value must be integer-valued — pre-scale floats)")
        graft.operators.TimeSeries.cusum(spark.read.parquet(args.docs),
          args.entityCol, args.tsCol, args.idCol, args.valueCol,
          args.slack, args.alarm)
      case "seasonal" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "seasonal needs --docs, --entity-col, --ts-col, --value-col " +
            "(value must be integer-valued — pre-scale floats)")
        graft.operators.TimeSeries.seasonalDecompose(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.valueCol, args.period, args.halfWindow)
      case "holt" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "holt needs --docs, --entity-col, --ts-col, --value-col")
        graft.operators.TimeSeries.holt(spark.read.parquet(args.docs),
          args.entityCol, args.tsCol, args.idCol, args.valueCol,
          args.alpha, args.beta)
      case "acf" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "acf needs --docs, --entity-col, --ts-col, --value-col " +
            "(value must be integer-valued — pre-scale floats)")
        graft.operators.TimeSeries.autocorrelation(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.valueCol, args.maxLag)
      case "period" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "period needs --docs, --entity-col, --ts-col, --value-col " +
            "(value must be integer-valued — pre-scale floats)")
        graft.operators.TimeSeries.dominantPeriod(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.valueCol, args.maxLag)
      case "zscore" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "zscore needs --docs, --entity-col, --ts-col, --value-col " +
            "(value must be integer-valued — pre-scale floats)")
        graft.operators.TimeSeries.rollingZscore(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.valueCol, args.windowRows)
      case "hw" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "hw needs --docs, --entity-col, --ts-col, --value-col")
        graft.operators.TimeSeries.holtWinters(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.valueCol, args.alpha, args.beta,
          args.gamma, args.period)
      case "scd2" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.target.nonEmpty,
          "scd2 needs --docs, --entity-col, --ts-col, --id-col and " +
            "--target <comma-separated attribute columns>")
        graft.operators.SnapshotDiff.scd2(spark.read.parquet(args.docs),
          args.entityCol, args.tsCol, args.idCol,
          args.target.split(',').toSeq.map(_.trim))
      case "benford" =>
        require(args.docs.nonEmpty && args.valueCol.nonEmpty,
          "benford needs --docs and --value-col (integer-valued — " +
            "pre-scale floats)")
        graft.operators.Validate.benford(spark.read.parquet(args.docs),
          args.valueCol, ckpt)
      case "knppl" =>
        require(args.docs.nonEmpty, "knppl needs --docs <dir>")
        graft.operators.Relevance.knBigramPerplexity(
          spark.read.parquet(args.docs), args.idCol, args.textCol,
          ckpt = ckpt)
      case "knppl3" =>
        // interpolated KN at order 3 — knppl one rung up the ladder;
        // --mode modified switches to the Chen–Goodman/KenLM
        // count-class discount estimator (d1/d2/d3+ per order)
        require(args.docs.nonEmpty, "knppl3 needs --docs <dir>; " +
          "--mode modified selects the d1/d2/d3+ estimator")
        if (args.mode == "modified")
          graft.operators.Relevance.knTrigramPerplexityModified(
            spark.read.parquet(args.docs), args.idCol, args.textCol,
            ckpt)
        else graft.operators.Relevance.knTrigramPerplexity(
          spark.read.parquet(args.docs), args.idCol, args.textCol,
          ckpt = ckpt)
      case "ks" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty &&
          args.valueCol.nonEmpty,
          "ks needs --docs <previous dir>, --bench <current dir>, " +
            "--value-col")
        graft.operators.SnapshotDiff.ksTest(
          spark.read.parquet(args.docs), spark.read.parquet(args.bench),
          args.valueCol)
      case "chi2" =>
        require(args.docs.nonEmpty && args.groupCol.nonEmpty &&
          args.itemCol.nonEmpty,
          "chi2 needs --docs, --group-col, --item-col (the two " +
            "categorical columns)")
        graft.operators.Validate.chiSquareIndependence(
          spark.read.parquet(args.docs), args.groupCol, args.itemCol,
          ckpt)
      case "winsorize" =>
        require(args.docs.nonEmpty && args.valueCol.nonEmpty,
          "winsorize needs --docs and --value-col")
        graft.operators.Sampling.winsorize(spark.read.parquet(args.docs),
          args.valueCol, args.lo, args.hi)
      case "ccf" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty &&
          args.stages.size == 2,
          "ccf needs --docs, --entity-col, --ts-col, --value-col, " +
            "--type-col, --stages <typeA,typeB>, --interval, --max-lag")
        graft.operators.TimeSeries.crossCorrelation(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.valueCol, args.typeCol, args.stages.head, args.stages(1),
          args.intervalSec, args.maxLag)
      case "funnel" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.stages.nonEmpty,
          "funnel needs --docs, --entity-col, --ts-col, --stages <a,b,c>")
        graft.operators.Funnel.windowFunnel(spark.read.parquet(args.docs),
          args.entityCol, args.tsCol, args.idCol, args.typeCol,
          args.stages, args.windowSec)
      case "psi" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty &&
          args.valueCol.nonEmpty,
          "psi needs --docs <previous dir>, --bench <current dir>, " +
            "--value-col, --lo, --hi")
        graft.operators.SnapshotDiff.psiDrift(
          spark.read.parquet(args.docs), spark.read.parquet(args.bench),
          args.valueCol, args.bins, args.lo, args.hi, ckpt)
      case "keywords" =>
        require(args.docs.nonEmpty, "keywords needs --docs <dir>")
        graft.operators.Relevance.topTerms(spark.read.parquet(args.docs),
          args.idCol, args.textCol, args.topK)
      case "cooccur" =>
        require(args.docs.nonEmpty && args.groupCol.nonEmpty &&
          args.itemCol.nonEmpty,
          "cooccur needs --docs <facts dir>, --group-col, --item-col")
        val (coEdges, coOverflow) = graft.operators.RelPipeline
          .cooccurrenceEdges(spark.read.parquet(args.docs), args.groupCol,
            args.itemCol, args.maxGroupSize, args.minCount, ckpt)
        if (args.outDir.nonEmpty) {
          coOverflow.write.mode("overwrite")
            .parquet(s"${args.outDir}/cooccur_overflow")
          println(s"[analyze] cooccur: wrote " +
            s"${args.outDir}/cooccur_overflow")
        }
        coEdges
      case "sequences" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty,
          "sequences needs --docs, --entity-col, --ts-col " +
            "[--id-col i] [--type-col c] [--n N] [--top-k K]")
        graft.operators.Funnel.frequentSequences(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.typeCol, args.nGram, args.topK)
      case "transitions" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty,
          "transitions needs --docs, --entity-col, --ts-col " +
            "[--id-col i] [--type-col c]")
        graft.operators.Funnel.transitionMatrix(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.typeCol)
      case "outliers" =>
        require(args.docs.nonEmpty && args.valueCol.nonEmpty,
          "outliers needs --docs, --value-col [--group-col g] " +
            "[--mode iqr|z|mad|hbos] [--k-factor K (iqr)] " +
            "[--z-threshold Z (z and mad, σ-equivalents)]")
        val oGroups =
          if (args.groupCol.isEmpty) Nil else Seq(args.groupCol)
        args.mode match {
          case "iqr" | "exact" => graft.operators.Outliers.iqr(
            spark.read.parquet(args.docs), args.valueCol, oGroups,
            args.kFactor)
          case "z" => graft.operators.Outliers.zscore(
            spark.read.parquet(args.docs), args.valueCol, oGroups,
            args.zThreshold)
          case "mad" => graft.operators.Outliers.mad(
            spark.read.parquet(args.docs), args.valueCol, oGroups,
            args.zThreshold)
          case "hbos" =>
            // multivariate: --value-col takes a comma list of features;
            // --threshold's semdedup-tuned 0.95 default would flag every
            // row (the modal hbos score is exactly 1), so an UNSET flag
            // (thresholdOpt == None) takes the operator's 1e4 while any
            // explicit value — including 0.95 — wins
            graft.operators.Outliers.hbos(
              spark.read.parquet(args.docs),
              args.valueCol.split(',').toSeq.map(_.trim), args.bins,
              args.thresholdOpt.getOrElse(1e4))
          case other => throw new IllegalArgumentException(
            s"unknown outlier mode '$other' (iqr|z|mad|hbos)")
        }
      case "skew" =>
        require(args.docs.nonEmpty && args.groupCol.nonEmpty,
          "skew needs --docs and --group-col <join key>")
        graft.operators.Validate.skewReport(
          spark.read.parquet(args.docs), args.groupCol)
      case "anomaly" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "anomaly needs --docs, --entity-col, --ts-col, --value-col " +
            "[--id-col i] [--period P] [--half-window H] " +
            "[--z-threshold Z]")
        graft.operators.TimeSeries.seasonalAnomaly(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol, args.valueCol, args.period, args.halfWindow,
          args.zThreshold)
      case "interarrival" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty,
          "interarrival needs --docs, --entity-col, --ts-col [--id-col i]")
        graft.operators.TimeSeries.interArrival(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.idCol)
      case "entropy" =>
        require(args.docs.nonEmpty && args.groupCol.nonEmpty &&
          args.valueCol.nonEmpty,
          "entropy needs --docs, --group-col, --value-col")
        graft.operators.Validate.entropy(spark.read.parquet(args.docs),
          args.groupCol, args.valueCol)
      case "negatives" =>
        require(args.docs.nonEmpty,
          "negatives needs --docs [--id-col doc_id] [--per-anchor K] " +
            "[--hash-seed S]")
        graft.operators.Sampling.negativePairs(
          spark.read.parquet(args.docs), args.idCol, args.negPerAnchor,
          args.hashSeed)
      case "trend" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "trend needs --docs, --entity-col, --ts-col, --value-col " +
            "(value must be integer-valued — pre-scale floats)")
        graft.operators.TimeSeries.linearTrend(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.valueCol, args.xUnitSec)
      case "theilsen" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "theilsen needs --docs, --entity-col, --ts-col, --value-col " +
            "(value must be integer-valued — pre-scale floats)")
        val (tsTrends, tsOver) = graft.operators.TimeSeries.theilSenTrend(
          spark.read.parquet(args.docs), args.entityCol, args.tsCol,
          args.valueCol, args.xUnitSec, args.maxPoints)
        if (args.outDir.nonEmpty) {
          tsOver.write.mode("overwrite")
            .parquet(s"${args.outDir}/theilsen_overflow")
          println(s"[analyze] theilsen: wrote " +
            s"${args.outDir}/theilsen_overflow")
        }
        tsTrends
      case "rfm" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.valueCol.nonEmpty,
          "rfm needs --docs, --entity-col, --ts-col, --value-col " +
            "(the amount — integer-valued, e.g. cents)")
        graft.operators.Funnel.rfm(spark.read.parquet(args.docs),
          args.entityCol, args.tsCol, args.valueCol, args.tiles)
      case "sessions" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty,
          "sessions needs --docs, --entity-col, --ts-col " +
            "[--id-col i] [--interval GAP_SEC]")
        graft.operators.Funnel.sessionStats(spark.read.parquet(args.docs),
          args.entityCol, args.tsCol, args.idCol, args.intervalSec)
      case "attribution" =>
        require(args.docs.nonEmpty && args.entityCol.nonEmpty &&
          args.tsCol.nonEmpty && args.stages.size >= 2,
          "attribution needs --docs, --entity-col, --ts-col, " +
            "--stages <convType,touchType1,...> [--id-col i] " +
            "[--type-col c] [--window-sec LOOKBACK]")
        graft.operators.Funnel.attribution(spark.read.parquet(args.docs),
          args.entityCol, args.tsCol, args.idCol, args.typeCol,
          args.stages.head, args.stages.tail, args.windowSec)
      case "assoc" =>
        require(args.docs.nonEmpty && args.groupCol.nonEmpty &&
          args.itemCol.nonEmpty,
          "assoc needs --docs <facts dir>, --group-col, --item-col " +
            "[--max-group-size N] [--min-count N] [--min-confidence C]")
        val (rules, aOver) = graft.operators.RelPipeline.associationRules(
          spark.read.parquet(args.docs), args.groupCol, args.itemCol,
          args.maxGroupSize, args.minCount, args.minConfidence, ckpt)
        if (args.outDir.nonEmpty) {
          aOver.write.mode("overwrite")
            .parquet(s"${args.outDir}/assoc_overflow")
          println(s"[analyze] assoc: wrote ${args.outDir}/assoc_overflow")
        }
        rules
      case "skyline" =>
        require(args.docs.nonEmpty && args.xCol.nonEmpty &&
          args.yCol.nonEmpty,
          "skyline needs --docs, --x-col, --y-col (both minimized — " +
            "negate a column to maximize it) [--buckets N]")
        graft.operators.Skyline.skyline2D(spark.read.parquet(args.docs),
          args.xCol, args.yCol, args.buckets)
      case "corr" =>
        require(args.docs.nonEmpty && args.target.nonEmpty,
          "corr needs --docs and --target <comma-separated " +
            "integer-valued columns>")
        graft.operators.Validate.correlationMatrix(
          spark.read.parquet(args.docs),
          args.target.split(',').toSeq.map(_.trim))
      case "spearman" =>
        require(args.docs.nonEmpty && args.xCol.nonEmpty &&
          args.yCol.nonEmpty,
          "spearman needs --docs, --x-col, --y-col (integer-valued)")
        graft.operators.Validate.spearman(
          spark.read.parquet(args.docs), args.xCol, args.yCol)
      case "kendall" =>
        require(args.docs.nonEmpty && args.xCol.nonEmpty &&
          args.yCol.nonEmpty,
          "kendall needs --docs, --x-col, --y-col (integer-valued; " +
            "cell-pair cost is quadratic in DISTINCT (x, y) cells — " +
            "feed aggregated/binned frames)")
        graft.operators.Validate.kendallTau(
          spark.read.parquet(args.docs), args.xCol, args.yCol)
      case "welch" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty &&
          args.valueCol.nonEmpty,
          "welch needs --docs <previous dir>, --bench <current dir>, " +
            "--value-col (integer-valued — pre-scale floats)")
        graft.operators.SnapshotDiff.welchT(
          spark.read.parquet(args.docs), spark.read.parquet(args.bench),
          args.valueCol)
      case "mannwhitney" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty &&
          args.valueCol.nonEmpty,
          "mannwhitney needs --docs <previous dir>, --bench <current " +
            "dir>, --value-col (integer-valued — pre-scale floats)")
        graft.operators.SnapshotDiff.mannWhitneyU(
          spark.read.parquet(args.docs), spark.read.parquet(args.bench),
          args.valueCol)
      case "scrub" =>
        require(args.docs.nonEmpty, "scrub needs --docs <dir>")
        graft.operators.Curation.scrubPii(
          spark.read.parquet(args.docs), args.textCol)
      case "htmltext" =>
        require(args.docs.nonEmpty, "htmltext needs --docs <dir>")
        graft.operators.Curation.extractMainText(
          spark.read.parquet(args.docs), args.textCol)
      case "score" =>
        require(args.docs.nonEmpty, "score needs --docs <dir>")
        require(args.weights.nonEmpty,
          "score needs --weights <dir> — a (feature_id, weight) parquet")
        graft.operators.QualityModel.keepProbability(
          graft.operators.QualityModel.scoreHashedLinear(
            spark.read.parquet(args.docs), args.textCol, args.idCol,
            spark.read.parquet(args.weights), args.dim))

      case "curate" =>
        require(args.docs.nonEmpty && args.bench.nonEmpty,
          "curate needs --docs <dir> and --bench <dir>")
        require(args.outDir.nonEmpty, "curate needs -o <outDir>")
        val (corpus, report) = Curation.curateCorpus(
          spark.read.parquet(args.docs), args.textCol, args.idCol,
          spark.read.parquet(args.bench), args.textCol, args.idCol,
          minWords = args.minWords, quotaGroupCol = args.quotaGroup,
          quotaPerGroup = args.quota, ckpt = ckpt)
        corpus.write.mode("overwrite").parquet(s"${args.outDir}/corpus")
        report.write.mode("overwrite").parquet(s"${args.outDir}/report")
        println(s"[analyze] curate: wrote ${args.outDir}/corpus and " +
          s"${args.outDir}/report")
        report.groupBy("stage", "decision").agg(count(lit(1)).as("n"))
          .orderBy("stage").show(20, truncate = false)
        corpus
      case other =>
        AnalyzeMore.dispatch(args, spark).getOrElse(
          throw new IllegalArgumentException(
            s"unknown command '$other'; $usage"))
    }
    if (args.command != "curate") {
      if (args.outDir.nonEmpty) {
        result.write.mode("overwrite")
          .parquet(s"${args.outDir}/${args.command}")
        println(s"[analyze] ${args.command}: wrote " +
          s"${args.outDir}/${args.command}")
      } else result.show(100, truncate = false)
    }
    result
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val spark = SparkSession.builder()
      .master(args.master)
      .appName(s"graft-analyze-${args.command}")
      .config("spark.sql.shuffle.partitions",
        math.max(Runtime.getRuntime.availableProcessors, 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { run(args, spark); () }
    finally spark.stop()
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH banding, SimHash. Everything is
  * expressed relationally (explode → hash → group/join) so it
  * partitions by shingle/bucket and scales horizontally — no
  * driver-side state, no per-executor global structures.
  */
object Dedup {

  /** Exact dedup: one surviving row (min of `orderCol`) per key. */
  def exact(df: DataFrame, keyCols: Seq[Column], orderCol: Column): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(min(orderCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Character shingle table: one row per (id, distinct shingle).
    * The shingle explosion is the scale knob — at 100 TB this table is
    * what gets partitioned (by shingle for the join, by id for the
    * signatures); everything downstream is hash joins / aggregations.
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int,
                   carry: Seq[String] = Nil): DataFrame =
    shingleTableRaw(df, idCol, textCol, n, carry).distinct()

  /** [[shingleTable]] without the per-(id, shingle) dedup — see
    * [[wordShingleTableRaw]] for when this is the right tier.
    */
  def shingleTableRaw(df: DataFrame, idCol: String, textCol: String, n: Int,
                      carry: Seq[String] = Nil): DataFrame =
    df.select((idCol +: carry).map(col) :+ col(textCol).as("__t"): _*)
      .withColumn("__i", explode(sequence(lit(1), greatest(length(col("__t")) - (n - 1), lit(1)))))
      .select((idCol +: carry).map(col) :+ expr(s"substring(__t, __i, $n)").as("sh"): _*)

  /** Word n-gram shingle table: one row per (id, distinct n-word
    * shingle). Far more selective than character shingles on natural
    * text — the shingle-join fan-out (the quadratic term in any
    * all-pairs similarity) drops by orders of magnitude, which is what
    * keeps the plan viable at corpus scale.
    */
  def wordShingleTable(df: DataFrame, idCol: String, textCol: String, n: Int,
                       carry: Seq[String] = Nil): DataFrame =
    wordShingleTableRaw(df, idCol, textCol, n, carry).distinct()

  /** [[wordShingleTable]] WITHOUT the per-(id, shingle) dedup — for
    * consumers whose downstream aggregation is duplicate-insensitive
    * (minhash minima, countDistinct), where the `.distinct()` would be
    * a full extra shuffle of the widest intermediate in the pipeline
    * (guide §2.4 "a distinct on data that is already unique" — here, a
    * distinct whose consumer doesn't care).
    */
  def wordShingleTableRaw(df: DataFrame, idCol: String, textCol: String, n: Int,
                          carry: Seq[String] = Nil): DataFrame = {
    val concatExpr = (1 to n).map(j => s"element_at(__w, CAST(i + ${j - 1} AS INT))")
      .mkString("concat_ws(' ', ", ", ", ")")
    df.select((idCol +: carry).map(col) :+ split(trim(col(textCol)), " ").as("__w"): _*)
      .filter(size(col("__w")) >= n)
      .withColumn("sh", explode(expr(
        s"transform(sequence(1, size(__w) - ${n - 1}), i -> $concatExpr)")))
      .select((idCol +: carry).map(col) :+ col("sh"): _*)
  }

  /** Exact n-gram Jaccard similarity for candidate pairs sharing at
    * least one shingle within a blocking key. Intersections come from a
    * shingle-partitioned self-join; |A∪B| = |A|+|B|-|A∩B| — so the
    * final similarity is exact integer arithmetic (bit-identical on any
    * engine, any partitioning).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, blockCols: Seq[String], threshold: Double,
                   words: Boolean = false): DataFrame = {
    // Three consumers read the shingle table (both self-join legs +
    // per-doc sizes); without materialization Spark recomputes the
    // scan+explode for each — 3 full corpus passes at 100 TB. A lazy
    // local checkpoint caches partitions as the first consumer computes
    // them (memory+disk, spill-safe) and the other two read blocks; the
    // RDD is per-construction, so blocks free on GC and repeated runs
    // still pay their own compute (honest benchmarking). On a real
    // cluster an executor loss forfeits the cut lineage — acceptable for
    // a derived table that one retry of the query rebuilds.
    val sh = (
      if (words) wordShingleTable(df, idCol, textCol, n, blockCols)
      else shingleTable(df, idCol, textCol, n, blockCols)
    ).localCheckpoint(false)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select((blockCols :+ "sh").map(col) :+ col(idCol).as("a"): _*)
    val b = sh.select((blockCols :+ "sh").map(col) :+ col(idCol).as("b"): _*)
    val inter = a.join(b, blockCols :+ "sh")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), Seq("b"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sza") + col("szb") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("c").as("n_shared"), col("jaccard"))
  }

  /** MinHash signatures: `numHashes` independent hash functions
    * simulated as md5(seed ‖ shingle) minima — engine-portable and
    * seed-deterministic.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int, words: Boolean = false): DataFrame = {
    // RAW shingles: min(md5(seed ‖ sh)) is insensitive to duplicate
    // shingles, so the per-(id, sh) distinct would be a wasted full
    // shuffle of the shingle table — duplicates collapse for free in
    // the partial aggregate below, and the only shuffle this pipeline
    // pays is the doc-keyed signature rollup (÷|shingles per doc| rows)
    val sh =
      if (words) wordShingleTableRaw(df, idCol, textCol, n)
      else shingleTableRaw(df, idCol, textCol, n)
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(i.toString), col("sh")))).as(s"h$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over minhash signatures: bucket = md5 of the band's
    * concatenated signature rows; candidate pairs share (band, bucket).
    * The pair join is per-bucket — the classic near-dup plan that holds
    * at corpus scale because buckets stay small.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int, bands: Int,
                        words: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, n, numHashes, words)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      md5(concat(parts: _*))
    }
    // both self-join legs read the bucket table; materialize it once
    // (the signature aggregation behind it is the expensive part) —
    // same lazy-checkpoint rationale as in jaccardPairs
    val buckets = sigs.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
      .localCheckpoint(false)
    val a = buckets.select(col("band"), col("bucket"), col(idCol).as("a"))
    val b = buckets.select(col("band"), col("bucket"), col(idCol).as("b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Benchmark-contamination check: for each corpus document, count
    * distinct word n-gram shingles it shares with any benchmark/eval
    * document, and flag documents whose best per-benchmark overlap
    * reaches `minShared` — the decontamination gate every training-mix
    * build runs before packing (n-gram overlap against held-out evals).
    *
    * Shape: shingle-keyed join of corpus shingles against the (small)
    * benchmark shingle table, which is broadcast — eval sets are tiny
    * relative to a 100 TB corpus, so the whole check is one map-side
    * join plus one aggregation keyed by corpus doc; no shuffle of the
    * corpus text, no all-pairs comparison.
    *
    * Output: one row per flagged corpus doc with the number of
    * benchmark docs hit and the max shingles shared with any of them.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int, minShared: Int,
                    broadcastBench: Boolean = true): DataFrame = {
    // RAW corpus shingles: the per-(doc, shingle) dedup the semantics
    // need ("distinct shared shingles") moves into countDistinct AFTER
    // the bench join — the join drops every non-matching shingle
    // map-side, so the dedup's shuffle shrinks from |all corpus
    // shingles| to just the matched sliver (the old spelling paid a
    // full distinct shuffle of the corpus shingle table first). The
    // bench side stays distinct so the broadcast hash table is minimal;
    // join multiplicity from duplicate corpus shingles can't change a
    // countDistinct.
    val corpSh = wordShingleTableRaw(corpus, idCol, textCol, n)
      .select(col(idCol).as("a"), col("sh"))
    val benchSh = wordShingleTable(bench, idCol, textCol, n)
      .select(col(idCol).as("b"), col("sh"))
    // eval sets are tiny next to the corpus → map-side join by default;
    // callers checking against a benchmark suite too big to broadcast
    // flip to a shingle-partitioned shuffle join instead
    corpSh.join(if (broadcastBench) broadcast(benchSh) else benchSh, Seq("sh"))
      .groupBy(col("a"), col("b")).agg(countDistinct(col("sh")).as("c"))
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_bench_docs"), max(col("c")).as("max_shared"))
      .filter(col("max_shared") >= minShared)
      .select(col("a").as(idCol), col("n_bench_docs"), col("max_shared"))
  }

  /** [[contamination]] with a Bloom pre-filter — the tier for benchmark
    * suites too large to broadcast as a join hash table. The bench
    * shingle set folds into a Bloom filter (a few MB of bits regardless
    * of shingle count, 10-100× smaller than the hash table), every
    * corpus shingle is tested map-side, and only the bloom-positive
    * sliver reaches the exact join. Bloom filters admit false POSITIVES
    * only, and each candidate is re-verified by the exact shingle join,
    * so the output is IDENTICAL to [[contamination]] (same oracle) —
    * the filter just shrinks the corpus side of the join shuffle from
    * |corpus shingles| to roughly the contaminated fraction + fpp.
    */
  def contaminationBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int, minShared: Int,
                         fpp: Double = 0.01,
                         expectedBenchShingles: Long = 0L): DataFrame = {
    // RAW corpus shingles + post-join countDistinct — same restructure
    // as [[contamination]]; the Bloom prefilter drops non-matching
    // shingles even earlier (before the join's hash probe)
    val corpSh = wordShingleTableRaw(corpus, idCol, textCol, n)
      .select(col(idCol).as("a"), col("sh"))
    // three bench-side consumers (count for sizing, filter build, exact
    // join) — materialize the bench shingle explode once instead of
    // re-running it per consumer (same lazy-checkpoint rationale as
    // jaccardPairs; the bench side is the small one by contract)
    val benchSh = wordShingleTable(bench, idCol, textCol, n)
      .select(col(idCol).as("b"), col("sh"))
      .localCheckpoint(false)
    // sizing the filter needs the bench shingle count — bench-scale
    // metadata work; callers that know it pass it to skip the action
    val nItems = if (expectedBenchShingles > 0) expectedBenchShingles
      else math.max(1000L, benchSh.count())
    // Build over xxhash64(sh) longs and probe with Spark's native
    // codegen'd BloomFilterMightContain — the Scala-closure UDF probe
    // was an interpreted expression on EVERY raw corpus shingle, the
    // hottest row count in the plan (guide §4.1: prefer built-ins in the
    // hot path). putLong/mightContainLong sides agree; hash collisions
    // only add false positives, which the exact join below re-verifies,
    // so the output is unchanged.
    val bf = benchSh.select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", nItems, fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    graft.Engine.ensureFunctions(corpus.sparkSession)
    corpSh.filter(call_function("bloom_might_contain", lit(bfBytes), xxhash64(col("sh"))))
      .join(benchSh, Seq("sh")) // exact verify: false positives drop here
      .groupBy(col("a"), col("b")).agg(countDistinct(col("sh")).as("c"))
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_bench_docs"), max(col("c")).as("max_shared"))
      .filter(col("max_shared") >= minShared)
      .select(col("a").as(idCol), col("n_bench_docs"), col("max_shared"))
  }

  /** Connected components over an undirected candidate-pair list —
    * the clustering stage between near-dup pair generation (Jaccard /
    * MinHash / cosine) and the keep-one-per-cluster decision.
    *
    * Hash-min label propagation: every node's label converges to the
    * smallest id reachable from it. Each round is one join + one
    * aggregation (fully distributed, no driver-side union-find); the
    * loop runs until a fixpoint, bounded by `maxIter`. Rounds needed =
    * the graph's max hop-distance to its component minimum — for dedup
    * graphs (dense near-clique clusters of duplicates) that is 2-3, so
    * the barrier-per-round cost stays tiny. `localCheckpoint` truncates
    * the lineage so plans don't grow with the iteration count.
    *
    * Reference semantics: one cluster per transitive duplicate group
    * (the reference's DEDUP works on exact keys only; this extends it
    * to the fuzzy-pair graphs the LLM-pipeline operators emit).
    */
  def clusters(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
               maxIter: Int = 25, distinctPairs: Boolean = false): DataFrame = {
    // Persist the one-directional pair list before mirroring it: both
    // union branches would otherwise re-run the (expensive) upstream
    // candidate-generation pipeline.
    val e0 = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).persist()
    // A distinct a<b pair list mirrors to a distinct symmetric edge list
    // BY CONSTRUCTION ((a,b) unique with a<b ⇒ the mirrored (b,a) are
    // unique and disjoint from the originals), so callers that guarantee
    // it (every candidate generator here ends in .distinct()) skip a
    // full dedup shuffle + a second persisted copy; the union is then a
    // map-side view over the cached e0 re-read each round. Duplicate
    // edges would not change the fixpoint (min over duplicates = min) —
    // the dedup is purely a cost choice for dup-heavy inputs.
    val dedupEdges = !distinctPairs
    val mirrored = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    // Pre-partition the cached edge table by the join key: every round
    // joins edges on `dst`, and a cached DataFrame keeps its plan's
    // output partitioning, so the edge side of the per-round join never
    // shuffles again — ONE |edges| exchange total instead of one per
    // round (the edge table is the largest relation in the loop).
    val edges = (if (dedupEdges) mirrored.distinct() else mirrored)
      .repartition(col("dst")).persist()
    // Fuse round 1 into initialization: every node starts at
    // min(self, min(neighbors)) — one aggregation instead of an identity
    // label table plus a full propagation round. Left LAZY (no
    // checkpoint): an eager checkpoint here would add a whole serial job
    // barrier; the first action materializes it.
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .select(col("src").as("node"), col("lbl"))
    // The Σ-lbl convergence metric needs an exactly-summable label type:
    // for numeric ids decimal(38,0) is exact at any range. Any OTHER
    // label type (string node ids…) casts to null per row — a null sum
    // would read as "empty table ⇒ fixpoint" and silently converge after
    // round 1 with wrong clusters — so non-numeric labels route to the
    // explicit-diff check instead.
    val numericLabels = labels.schema("lbl").dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    // propagate ∪ retain, one aggregation: min over (own label + every
    // neighbor's label). Equivalent to the join+left-join spelling but
    // with one fewer join and one fewer exchange per round.
    def propagate(prev: DataFrame): DataFrame = edges
      .join(prev.select(col("node").as("dst"), col("lbl").as("dlbl")), Seq("dst"))
      .select(col("src").as("node"), col("dlbl").as("lbl"))
      .union(prev)
      .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
    var converged = false
    // Labels are monotone non-increasing over a FIXED node set, so the
    // fixpoint is reached exactly when Σ lbl stops falling — a per-round
    // scalar the checkpoint job emits as an observed metric.
    var lastSum: Option[java.math.BigDecimal] = None
    def sameSum(a: java.math.BigDecimal, b: java.math.BigDecimal): Boolean =
      (a == null && b == null) || // null ⇔ empty label table (a fixpoint)
        (a != null && b != null && a.compareTo(b) == 0)
    var it = 0
    while (!converged && it < maxIter) {
      val prev = labels
      if (numericLabels) {
        // ONE propagation round per checkpoint action, convergence
        // observed on the checkpoint job itself. (Measured and REJECTED:
        // unrolling two rounds into one action — `prev` feeds both the
        // join leg and the union retain leg, so an unmaterialized
        // round-A subtree gets computed twice inside round B's plan;
        // isolated A/B: q_dedup_clusters 2.6 → 3.5 s, jobs 24 → 31,
        // tasks 399 → 624. The per-round checkpoint is what keeps each
        // round's two references to `prev` cheap block reads.)
        val metricName = s"__cc_sum_$it"
        val withMetric = propagate(prev)
          .observe(metricName, sum(col("lbl").cast("decimal(38,0)")).as("s"))
        val next = withMetric.localCheckpoint(true)
        converged = withMetric.queryExecution.observedMetrics.get(metricName) match {
          case Some(row) =>
            val s = row.getDecimal(0)
            val same = lastSum.exists(p => sameSum(p, s)) || s == null
            lastSum = Some(s)
            same
          case None =>
            // metric not surfaced (future Spark changing checkpoint's
            // action path) — explicit diff against the previous round
            next.join(prev.withColumnRenamed("lbl", "__plbl"), Seq("node"))
              .filter(col("lbl") < col("__plbl")).isEmpty
        }
        it += 1
        labels = next
      } else {
        val next = propagate(prev).localCheckpoint(true)
        converged = next.join(prev.withColumnRenamed("lbl", "__plbl"), Seq("node"))
          .filter(col("lbl") < col("__plbl")).isEmpty
        it += 1
        labels = next
      }
      // the first action materialized the edges cache — the one-sided
      // pair list behind it is no longer needed by anyone
      if (it <= 1) e0.unpersist(blocking = false)
      // Free the superseded round's checkpoint blocks eagerly — leaving
      // them to the ContextCleaner pins executor storage memory for the
      // rest of the session and evicts other cached data fleet-wide.
      unpersistCheckpoint(prev)
    }
    edges.unpersist(blocking = false)
    labels.select(col("node"), col("lbl").as("cluster"))
  }

  /** Unpersist the RDD blocks behind a `localCheckpoint`ed DataFrame
    * (Dataset.unpersist only covers CacheManager entries, not the
    * checkpoint RDD itself). Only the plan ROOT (through projections) is
    * considered: a deep collectFirst would also match checkpoint RDDs
    * nested inside the upstream pipeline (e.g. the LSH bucket table
    * inside a lazily-initialized label plan) and free blocks another
    * consumer still reads.
    */
  private def unpersistCheckpoint(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    @scala.annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => strip(child)
      case SubqueryAlias(_, child) => strip(child)
      case other => other
    }
    strip(df.queryExecution.analyzed) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Keep-one-per-cluster dedup: drop every row whose id belongs to a
    * pair cluster but is not that cluster's minimum; rows in no pair
    * survive untouched. This is the canonical corpus-dedup output —
    * `pairs` typically comes from [[minhashCandidates]] or
    * [[Similarity.cosineNearDupPairs]].
    */
  def keepOnePerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                        distinctPairs: Boolean = false): DataFrame =
    keepOneWithClusters(df, idCol, clusters(pairs, distinctPairs = distinctPairs))

  /** Same as [[keepOnePerCluster]] but takes precomputed cluster labels
    * (`node`, `cluster`) — lets a pipeline that already ran [[clusters]]
    * reuse them instead of re-running the fixpoint.
    */
  def keepOneWithClusters(df: DataFrame, idCol: String, clusterLabels: DataFrame): DataFrame = {
    val cl = clusterLabels.withColumnRenamed("node", idCol)
    df.join(cl, Seq(idCol), "left")
      .filter(col("cluster").isNull || col("cluster") === col(idCol))
      .drop("cluster")
  }

  /** Sliding w-token window table with 1-based positions: one row per
    * (id, pos, win). Unlike [[wordShingleTable]], duplicate windows are
    * KEPT and positions ride along — exact substring dedup needs every
    * occurrence (a window repeated inside one document still counts)
    * and span removal needs to know where each window starts.
    */
  def windowTable(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val concatExpr = (1 to w).map(j => s"element_at(__w, CAST(i + ${j - 1} AS INT))")
      .mkString("concat_ws(' ', ", ", ", ")")
    df.select(col(idCol), split(trim(col(textCol)), " ").as("__w"))
      .filter(size(col("__w")) >= w)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(__w) - ${w - 1}), i -> struct(CAST(i AS INT) AS pos, $concatExpr AS win))")).as("__pw"))
      .select(col(idCol), col("__pw.pos").as("pos"), col("__pw.win").as("win"))
  }

  /** Per-(window-hash, doc) rollup of [[windowTable]]: `h`, id, minpos,
    * cnt. This is the exact-substring-dedup workhorse: same-document
    * repeats collapse in the partial aggregate BEFORE the shuffle, and
    * grouping on the 8-byte xxhash64 instead of the window string keeps
    * shuffle rows fixed-width (collision odds 2^-64 per pair — the
    * standard trade for corpus-scale substring dedup à la Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better").
    */
  private def windowPerDoc(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    windowTable(df, idCol, textCol, w)
      .groupBy(xxhash64(col("win")).as("h"), col(idCol))
      .agg(min(col("pos")).as("minpos"), count(lit(1)).as("cnt"))

  /** Exact substring duplication stats: for every document, how many of
    * its sliding w-token windows also occur elsewhere in the corpus
    * (any other position — other docs or repeats within the same doc).
    *
    * Shape: window explode → per-(hash,doc) partial rollup (one
    * shuffle, fixed-width keys) → per-hash occurrence total → join back
    * and re-aggregate by doc. No all-pairs term anywhere; the join is
    * keyed on the window hash, so it partitions by content and holds at
    * corpus scale.
    */
  def duplicateWindowStats(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    // two consumers (occurrence totals + join-back) — materialize once,
    // same lazy-checkpoint rationale as jaccardPairs
    val perDoc = windowPerDoc(df, idCol, textCol, w).localCheckpoint(false)
    val dup = perDoc.groupBy(col("h")).agg(sum(col("cnt")).as("occ"))
      .filter(col("occ") > 1)
    perDoc.join(dup, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_windows"),
        sum(when(col("occ").isNotNull, col("cnt")).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_fraction",
        round(col("n_dup_windows").cast("double") / col("n_windows").cast("double"), 6))
  }

  /** Exact substring-span removal (Lee et al. 2021): every duplicated
    * w-token window keeps exactly one canonical occurrence — the one at
    * the smallest (id, pos) — and every other occurrence has its token
    * span deleted from its document. Overlapping removed spans merge
    * naturally (a token goes when ANY removed window covers it).
    *
    * Canonical selection stays in hash aggregates: per-(hash,doc)
    * minpos first, then per-hash min doc id + `min_by(minpos, id)` —
    * (hash,doc) rows are unique, so min_by is deterministic and the
    * whole chain is partial+final HashAggregate, never a struct-ordered
    * SortAggregate.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Canonical selection as ONE h-partitioned window pass. The previous
    // spelling built a per-(h,doc) rollup (shuffle 1), aggregated it per
    // hash (shuffle 2), and joined the result BACK to the window table
    // (re-shuffling every (id, pos, win) row by h a second time) — three
    // h-keyed moves of window-derived rows plus a checkpoint to share
    // the explode between the rollup and the join legs. Per-hash
    // occurrence count, min doc id, and that doc's min position are all
    // unbounded-frame window aggregates over the SAME h partitioning,
    // so the window table now shuffles exactly once, has a single
    // consumer (no checkpoint, one Generate), and the canonical filter
    // runs in-partition. occ = count rows per hash ≡ the old Σ cnt;
    // __cpos = min pos among the min-id doc's rows ≡ min_by(minpos, id).
    val byH = Window.partitionBy(col("h"))
    val starts = windowTable(df, idCol, textCol, w)
      .withColumn("h", xxhash64(col("win")))
      .withColumn("__occ", count(lit(1)).over(byH))
      .withColumn("__cid", min(col(idCol)).over(byH))
      .withColumn("__cpos", min(when(col(idCol) === col("__cid"), col("pos"))).over(byH))
      .filter(col("__occ") > 1 &&
        (col(idCol) =!= col("__cid") || col("pos") =!= col("__cpos")))
      .groupBy(col(idCol)).agg(sort_array(collect_set(col("pos"))).as("__starts"))
    df.join(starts, Seq(idCol), "left")
      .withColumn("__w", split(trim(col(textCol)), " "))
      .withColumn(textCol, when(col("__starts").isNull, col(textCol)).otherwise(
        expr(s"concat_ws(' ', filter(transform(__w, (t, i) -> " +
          s"IF(exists(__starts, s -> i + 1 >= s AND i + 1 < s + $w), CAST(NULL AS STRING), t)), " +
          "t -> t IS NOT NULL))")))
      .drop("__starts", "__w")
  }

  /** Boilerplate line removal (CCNet / RefinedWeb style): a line whose
    * exact text occurs in at least `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, license headers) and is
    * dropped from every document; per-doc line order is preserved.
    *
    * Shape: line explode → per-(hash,doc) rollup (same-doc repeats
    * collapse map-side) → doc-frequency per hash → join back, filter,
    * reassemble with a per-doc sort of the surviving line positions.
    * The only shuffles are keyed on the line hash and the doc id.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minDocs: Int, delim: String = "\n"): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("lpos", "line")))
      .withColumn("h", xxhash64(col("line")))
      .localCheckpoint(false)
    val boiler = lines.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("h"), lit(true).as("__boiler"))
    val kept = lines.join(boiler, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("__boiler").isNull, struct(col("lpos"), col("line"))))),
          s => s("line")), delim).as("clean"))
    df.join(kept, Seq(idCol), "left")
  }

  /** SimHash: 60-bit signature from per-token md5 bit votes.
    *
    * Vectorized lowering: one `conv(15-hex, 16, 10)` long per token,
    * then 60 partial-aggregating bit-count sums per doc — a single
    * hash aggregate over the token table, no 60× bit explosion (that
    * variant shuffles |tokens|·60 rows; this shuffles |docs| buffers).
    *
    * Bit b (b = 4·i + j, hex char i from the LEFT, j = LSB-of-digit)
    * of the hex-digit scheme maps to long bit 4·(14−i)+j.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(array_distinct(split(trim(col(textCol)), " "))).as("w"))
      .filter(col("w") =!= "")
      .withColumn("h", expr("cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)"))
    def shift(b: Int): Int = 4 * (14 - b / 4) + (b % 4)
    val bitSums = (0 until 60).map(b =>
      sum(expr(s"(shiftright(h, ${shift(b)}) & 1) * 2 - 1")).as(s"s$b"))
    val votes = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 60).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    votes.select(col(idCol), hash.as("simhash"))
  }
}

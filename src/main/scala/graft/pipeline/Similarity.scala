package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  *  - [[cosineTopK]]: brute-force exact top-k — the correctness
  *    baseline. The (small) query set is broadcast; the corpus streams
  *    through once; per-query top-k via a key-partitioned window.
  *  - [[lshBuckets]]: sign-of-hyperplane LSH bucketing — the 100 TB
  *    path: bucket assignment is a per-row expression (no joins), and
  *    candidate generation joins only within buckets. Hyperplane
  *    weights are a deterministic integer formula, so results are
  *    engine-portable and seed-stable.
  *
  * Dot products run in double precision through the native codegen'd
  * [[graft.functions.DotProductExpr]] (one fused loop per pair; the
  * equivalent `zip_with`/`aggregate` lambda spelling is interpreted —
  * Spark higher-order functions are CodegenFallback — and was the
  * bottleneck of every pair join here).
  */
object Similarity {
  private val dot = (a: String, b: String) =>
    graft.functions.DotProductExpr.dot(col(a), col(b))

  /** vec_dot and topk_pairs resolve through the session function
    * registry — make sure the library is registered before building a
    * plan that uses them (once per session).
    */
  private def ensureDot(df: DataFrame): DataFrame = {
    graft.Engine.ensureFunctions(df.sparkSession)
    df
  }

  /** Per-key bounded top-k ranking: `(key, ord, id)` rows → the k
    * smallest (ord, id) per key as (key, id, ord, rn). The native
    * `topk_pairs` aggregate partial-merges map-side, so each partition
    * contributes ≤ k rows per key to the shuffle — ranking a per-query
    * candidate expansion with `row_number().over(Window.partitionBy)`
    * would instead move every candidate row to the key's reducer.
    */
  private def rankTopK(df: DataFrame, keyCol: String, ordCol: String,
                       idCol: String, k: Int): DataFrame =
    df.groupBy(col(keyCol))
      .agg(call_function("topk_pairs",
        struct(col(ordCol).as("ord"), col(idCol).as("id")), lit(k)).as("__top"))
      .select(col(keyCol), posexplode(col("__top")).as(Seq("__pos", "__p")))
      .select(col(keyCol), col("__p.id").as(idCol), col("__p.ord").as(ordCol),
        (col("__pos") + 1).cast("int").as("rn"))

  /** Exact cosine top-k of `corpus` rows for each query row.
    * Similarities are rounded (1e-6) with an id tiebreak so ranking is
    * reproducible across engines/partitionings. Norms are computed once
    * per row before the pair join (same arithmetic, factored out of the
    * O(|q|·|c|) hot loop — one dot product per pair instead of three).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    ensureDot(corpus)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", sqrt(dot("qe", "qe")))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("ce"))
      .withColumn("cn", sqrt(dot("ce", "ce")))
    val sim = round(dot("qe", "ce") / (col("qn") * col("cn")), 6)
    // ranking via the bounded topk_pairs aggregate (≤ k pairs per query
    // per partition reach the shuffle — a qid window would move the full
    // |q|·|corpus| expansion). sim is 6-dp rounded, so its µ-unit long
    // is exact and -µ ASC ≡ sim DESC; dividing the exact integer back
    // by 1e6 is correctly-rounded IEEE division, reproducing round(x,6)
    // bit-identically.
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("__ord", -round(sim * 1e6, 0).cast("long"))
    rankTopK(scored, "qid", "__ord", "cid", k)
      .select(col("qid"), col("cid"), (-col("__ord") / 1e6).as("sim"), col("rn"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs within a
    * blocking key whose cosine similarity clears the threshold. The
    * block join bounds the pair explosion (at corpus scale the block is
    * an LSH bucket from [[lshBuckets]] instead of a label).
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    ensureDot(df)
    // norms once per row, not per pair — identical arithmetic to the
    // inline form, one dot product per pair instead of three
    val a = df.select(col(blockCol), col(idCol).as("a"), col(vecCol).as("va"))
      .withColumn("na", sqrt(dot("va", "va")))
    val b = df.select(col(blockCol), col(idCol).as("b"), col(vecCol).as("vb"))
      .withColumn("nb", sqrt(dot("vb", "vb")))
    val sim = round(dot("va", "vb") / (col("na") * col("nb")), 6)
    a.join(b, Seq(blockCol)).filter(col("a") < col("b"))
      .withColumn("sim", sim)
      .filter(col("sim") >= threshold)
      .select(col(blockCol), col("a"), col("b"), col("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embedding space, then drop
    * within-cluster cosine near-duplicates — the cross-cluster pair
    * space is never materialized, so the pair join is cluster-keyed and
    * bounded exactly like the LSH/shingle dedups. Returns
    * (id, cid, dup): dup = a strictly-lower id in the same cluster
    * clears the threshold (keep-lowest greedy, the paper's keep-one
    * rule). Deterministic with the default hash-seeded centroids;
    * pass k-means centroids ([[ivfCentroidsKMeans]]) for quality.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, threshold: Double,
                    centroids: Option[DataFrame] = None): DataFrame = {
    // default centroids are broadcast exactly ONCE (the assignment pass
    // below) — single consumer, so the lazy-plan seeds cost the same
    // corpus passes as a collect and skip the extra serial collect job
    val cent = centroids.getOrElse(ivfCentroidsPlan(df, idCol, vecCol, nlist))
    // assignment carries the vector through the arg-max aggregate (one
    // corpus pass; no id-keyed re-attach join). Consumed by both
    // pair-join legs and the final projection — the lazy local
    // checkpoint materializes the pass once instead of re-running it
    // per consumer (same pattern as Dedup)
    val withC = ivfAssignWith(df, cent, idCol, vecCol, Seq(vecCol -> col(vecCol)))
      .select(col(idCol), col(vecCol), col("cid"))
      .localCheckpoint(false)
    val dups = cosineNearDupPairs(withC, idCol, vecCol, "cid", threshold)
      .select(col("b").as(idCol)).distinct().withColumn("__dup", lit(true))
    withC.select(col(idCol), col("cid"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        coalesce(col("__dup"), lit(false)).as("dup"))
  }

  /** Top-n seed vectors in deterministic md5-hash order of the id —
    * ONE bounded collect (model metadata: n = max(nlist, k) rows) shared
    * by centroid AND codebook construction, so the IVF-PQ compositions
    * pay a single seed pass instead of one per artifact.
    */
  private def seedVectors(corpus: DataFrame, idCol: String, vecCol: String,
                          n: Int): Array[Seq[Any]] =
    corpus
      .select(col(idCol).as("__sid"), col(vecCol).as("__v"))
      .withColumn("__h", md5(col("__sid").cast("string")))
      .orderBy(col("__h").asc, col("__sid").asc)
      .limit(n)
      .collect() // ≤ n rows, bounded by construction
      .map(_.getSeq[Any](1))

  /** The (cid, cvec) centroid table as a LOCAL relation over collected
    * seed vectors. Centroids are broadcast by every consumer (assignment
    * leg, probe leg): as a lazy plan each broadcast re-ran the corpus
    * scan+hash-sort behind the seeds — 2-3 bounded-but-full passes per
    * IVF query; as nlist local rows every broadcast is metadata-cheap
    * and the corpus is scanned exactly once, by the assignment itself.
    */
  private def centroidsFromSeeds(corpus: DataFrame, vecCol: String,
                                 seeds: Array[Seq[Any]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val elemT = corpus.schema(vecCol).dataType.asInstanceOf[ArrayType]
    val schema = StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("cvec", elemT)))
    val rows: Seq[Row] = seeds.toSeq.zipWithIndex.map { case (v, i) => Row(i, v) }
    corpus.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** IVF coarse quantizer: `nlist` centroids picked deterministically by
    * md5-hash order of the id — engine-portable (any engine with md5
    * derives the same seeds), no RNG, no iterative training. The seeds
    * collect to a local relation (nlist rows, model metadata — the same
    * bounded-collect contract as [[pqCodebooks]]); swapping in k-means
    * centroids changes only this function.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int): DataFrame = {
    ensureDot(corpus)
    centroidsFromSeeds(corpus, vecCol, seedVectors(corpus, idCol, vecCol, nlist))
  }

  /** The lazy-plan spelling of [[ivfCentroids]] — same rows, same order,
    * same cids, but left as a plan over the corpus. For consumers that
    * read the seed table exactly once (the k-means iteration seam),
    * where a separate collect job buys nothing at any scale.
    */
  private def ivfCentroidsPlan(corpus: DataFrame, idCol: String, vecCol: String,
                               nlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = corpus
      .select(col(idCol).as("__seed_id"), col(vecCol).as("cvec"))
      .withColumn("__h", md5(col("__seed_id").cast("string")))
      .orderBy(col("__h").asc, col("__seed_id").asc)
      .limit(nlist)
    seeds.withColumn("cid",
        row_number().over(Window.orderBy(col("__h").asc, col("__seed_id").asc)) - 1)
      .select(col("cid"), col("cvec"))
  }

  /** Lloyd-iterated k-means refinement of the hash-seeded centroids —
    * the quality upgrade behind the same [[ivfCentroids]] seam. Each
    * iteration is one broadcast assignment pass plus one aggregation
    * (element-wise mean per inverted list): the same join+agg fixpoint
    * pattern as [[Dedup.clusters]], nothing driver-side. Means are
    * rounded (1e-6) so shuffle-order float addition cannot make
    * training nondeterministic; empty lists keep their previous
    * centroid. At 100 TB you train on a sample (`corpus.sample`) and
    * assign the full corpus — assignment, not training, is the
    * full-scan stage.
    */
  def ivfCentroidsKMeans(corpus: DataFrame, idCol: String, vecCol: String,
                         nlist: Int, iters: Int = 3): DataFrame = {
    ensureDot(corpus)
    // the hash-order seeds here are consumed exactly ONCE (iteration 1's
    // assignment pass), so the collected-local-relation form buys
    // nothing at scale and costs one extra serial collect job locally
    // (measured +0.2 s) — keep the lazy plan spelling for this seam
    var cent = ivfCentroidsPlan(corpus, idCol, vecCol, nlist)
    var i = 0
    while (i < iters) {
      // assignment carries the vector — the per-iteration mean needs no
      // id-keyed join back to the corpus (one pass per Lloyd round)
      val means = ivfAssignWith(corpus, cent, idCol, vecCol,
          Seq("__vc" -> col(vecCol)))
        .select(col("cid"), posexplode(col("__vc")).as(Seq("__p", "__x")))
        .groupBy(col("cid"), col("__p"))
        .agg(round(avg(col("__x")), 6).as("__m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("__p"), col("__m")))).as("__pm"))
        .select(col("cid"),
          expr("transform(__pm, s -> CAST(s.__m AS FLOAT))").as("__new"))
      cent = cent.withColumnRenamed("cvec", "__old")
        .join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("__new"), col("__old")).as("cvec"))
        .localCheckpoint(true) // nlist rows — tiny; truncates the iteration lineage
      // (measured alternative: collecting the nlist rows to a local
      // relation per iteration re-plans slower than the checkpointed
      // block table — keep the checkpoint)
      i += 1
    }
    cent
  }

  /** Assign every corpus vector to its nearest centroid (max cosine,
    * centroid-id tiebreak). One broadcast join + a keyed arg-max
    * (`max_by` hash aggregate): the broadcast expansion to
    * |corpus|·nlist rows collapses map-side in the partial aggregate,
    * so only one (id, cid) row per document reaches the shuffle — this
    * is the full-corpus stage of IVF at 100 TB, and it must not move
    * corpus×nlist rows. Output is what you bucket/partition the corpus
    * by.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String): DataFrame =
    ivfAssignWith(corpus, centroids, idCol, vecCol, Nil)
      .select(col(idCol), col("cid"))

  /** [[ivfAssign]] that additionally CARRIES map-only per-row columns
    * through the arg-max aggregate (`extra`: output name → expression
    * over the corpus row). Each carried value is constant within its
    * id group (one corpus row expands to nlist candidate rows), so
    * `first` is deterministic and collapses map-side exactly like the
    * arg-max buffer. This is the single-pass seam the IVF compositions
    * glue on: without it, attaching the vector / PQ code back to the
    * assignment costs a SECOND corpus scan plus an id-keyed shuffle
    * join — at 100 TB, a whole extra pass over the corpus.
    */
  def ivfAssignWith(corpus: DataFrame, centroids: DataFrame,
                    idCol: String, vecCol: String,
                    extra: Seq[(String, Column)]): DataFrame = {
    ensureDot(corpus)
    val c = corpus.select(
      (col(idCol) +: extra.map { case (n, e) => e.as(n) }) :+ col(vecCol).as("__v"): _*)
      .withColumn("__vn", sqrt(dot("__v", "__v")))
    val cent = centroids.withColumn("__cn", sqrt(dot("cvec", "cvec")))
    val sim = round(dot("__v", "cvec") / (col("__vn") * col("__cn")), 6)
    // arg-max by (sim desc, cid asc), encoded as ONE BIGINT so the
    // max_by buffer stays fixed-width and Spark plans a HashAggregate
    // (a struct ordering would demote to SortAggregate — a map-side
    // sort of the expanded rows). sim is already rounded to 6 decimals,
    // so sim*1e6 is integral: scale it above the 2^31 cid space and
    // subtract cid — same total order the oracle spells as
    // `ORDER BY round(sim, 6) DESC, cid ASC`.
    val ord = round(col("__csim") * 1e6, 0).cast("long") * 2147483648L - col("cid")
    val aggs = max_by(col("cid"), ord).as("cid") +:
      extra.map { case (n, _) => first(col(n)).as(n) }
    c.join(broadcast(cent), lit(true))
      .withColumn("__csim", sim)
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** IVF approximate top-k: probe the `nprobe` nearest inverted lists
    * per query and rank candidates only inside them. The candidate join
    * keys on the list id, so each query touches ~`nprobe`/`nlist` of the
    * corpus — the IVF trade: recall for a bounded scan. Deterministic
    * end-to-end (hash-seeded centroids, rounded similarities, id
    * tiebreaks), so results are engine-reproducible.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int, nprobe: Int,
              centroids: Option[DataFrame] = None): DataFrame = {
    ensureDot(corpus)
    val cent = centroids.getOrElse(ivfCentroids(corpus, idCol, vecCol, nlist))
    // inverted-list id AND the vector in ONE corpus pass: the carried
    // vector rides the arg-max aggregate, so the exact-rank stage below
    // needs no second corpus scan and no id-keyed re-attach join
    val lists = ivfAssignWith(corpus, cent, idCol, vecCol, Seq("ce" -> col(vecCol)))
      .withColumn("cn", sqrt(dot("ce", "ce")))
      .select(col(idCol).as("cid_doc"), col("cid"), col("ce"), col("cn"))

    // probe lists per query: nprobe nearest centroids. Like the assign
    // arg-max, this must not shuffle the queries×nlist broadcast
    // expansion — the per-query top-nprobe is a hash aggregate whose
    // collect_list buffer is bounded by nlist (hundreds), so partial
    // aggregation collapses the expansion map-side; array_sort over
    // (-sim, cid) structs normalizes collect_list's arrival order, so
    // the probe set stays deterministic. At 100 TB "queries" can be the
    // corpus itself (batch ANN), making this the same full-scan stage
    // as assignment.
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", sqrt(dot("qe", "qe")))
    val centN = cent.withColumn("__cn", sqrt(dot("cvec", "cvec")))
    val qsim = round(dot("qe", "cvec") / (col("qn") * col("__cn")), 6)
    val probes = q.join(broadcast(centN), lit(true))
      .withColumn("__qsim", qsim)
      .groupBy(col("qid"))
      .agg(first(col("qe")).as("qe"), first(col("qn")).as("qn"),
        slice(array_sort(collect_list(struct((-col("__qsim")).as("negsim"),
          col("cid").as("cid")))), 1, nprobe).as("__top"))
      .withColumn("cid", explode(expr("transform(__top, s -> s.cid)")))
      .select(col("qid"), col("qe"), col("qn"), col("cid"))

    // candidates = probed lists only; exact cosine rank within them —
    // via the bounded topk_pairs aggregate (see cosineTopK for the
    // µ-unit round trip), not a qid window over the candidate join
    val sim = round(dot("qe", "ce") / (col("qn") * col("cn")), 6)
    val scored = probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("cid_doc"))
      .withColumn("__ord", -round(sim * 1e6, 0).cast("long"))
    rankTopK(scored, "qid", "__ord", "cid_doc", k)
      .select(col("qid"), col("cid_doc").as("cid"),
        (-col("__ord") / 1e6).as("sim"), col("rn"))
  }

  // ---- product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search") -------------------------------------
  //
  // The 100 TB ANN memory story: a dim-D float vector (4·D bytes)
  // compresses to m small codes (m bytes at k ≤ 256), so the corpus the
  // scoring pass streams is ~64× smaller than raw embeddings and the
  // candidate shuffle carries codes, not vectors. Encode is map-only
  // (codebooks are model metadata — k rows collected once, shipped as
  // literals inside the expression tree); scoring is one corpus pass
  // against broadcast per-query lookup tables (ADC). Distances are
  // quantized to integer micro-units so every sum is exact long
  // arithmetic — order-free, engine-portable, oracle-matchable.

  /** PQ codebooks: `k` codewords per subspace, sliced from `k`
    * hash-seeded seed vectors (the same deterministic md5-order seam as
    * [[ivfCentroids]] — no RNG, any engine derives the same seeds). The
    * result is `m × k × (dim/m)` doubles — bounded by construction
    * (model metadata, not data), safe to collect and embed as literals.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, k: Int): Array[Array[Array[Double]]] =
    codebooksFromSeeds(seedVectors(corpus, idCol, vecCol, k), m)

  private def codebooksFromSeeds(seeds: Array[Seq[Any]],
                                 m: Int): Array[Array[Array[Double]]] = {
    val vecs = seeds.map(_.map(_.asInstanceOf[Number].doubleValue).toArray)
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m)(s => vecs.map(v => v.slice(s * dsub, (s + 1) * dsub)))
  }

  /** Squared-L2 distances of one subvector to every codeword of a
    * subspace, in integer micro-units. Spelled as
    * `⟨x,x⟩ − 2⟨x,w⟩ + ⟨w,w⟩` — the identical arithmetic the DuckDB
    * oracle states with `list_dot_product` — then rounded at 1e-6 so
    * both engines land on the same long. `⟨x,x⟩` is computed once per
    * subspace (not once per codeword), and `⟨w,w⟩` folds driver-side in
    * the same sequential order the dot expression uses, so the doubles
    * are bit-identical to the per-row spelling.
    */
  private def pqDistUs(sub: Column, cws: Array[Array[Double]]): Seq[Column] = {
    val dotE = graft.functions.DotProductExpr.dot(_: Column, _: Column)
    val ss = dotE(sub, sub)
    cws.toSeq.map { cw =>
      val w = array(cw.map(lit): _*)
      val ww = cw.foldLeft(0.0)((acc, x) => acc + x * x)
      round((ss - lit(2.0) * dotE(sub, w) + lit(ww)) * 1e6, 0).cast("long")
    }
  }

  /** Encode every vector to `m` codes: per subspace, the index of the
    * nearest codeword (squared L2, lowest-index tiebreak via
    * `array_position`'s first-occurrence semantics). Map-only — the
    * codebooks ride inside the expression, so encoding a 100 TB corpus
    * is a single scan with no join and no shuffle.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int, k: Int,
               codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    ensureDot(corpus)
    val cb = codebooks.getOrElse(pqCodebooks(corpus, idCol, vecCol, m, k))
    corpus.select(col(idCol), pqCodeColumn(col(vecCol), cb).as("code"))
  }

  /** The per-row PQ code expression (array of m nearest-codeword
    * indices) — factored so compositions can evaluate it inside another
    * single-pass stage instead of running [[pqEncode]] as a separate
    * corpus scan.
    */
  private def pqCodeColumn(vec: Column, cb: Array[Array[Array[Double]]]): Column = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val codeCols = (0 until m).map { s =>
      val sub = slice(vec, s * dsub + 1, dsub)
      val du = array(pqDistUs(sub, cb(s)): _*)
      (array_position(du, array_min(du)) - 1).cast("int")
    }
    array(codeCols: _*)
  }

  /** PQ approximate top-k by asymmetric distance (ADC): each query
    * precomputes an `m × k` table of subspace distances to every
    * codeword (map-only, broadcast with the query), and a document's
    * distance is the sum of `m` table lookups on its code — exact long
    * adds, no floats in the distributed part. One corpus pass total;
    * per-query ranking mirrors [[cosineTopK]].
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int, kcode: Int,
             codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    ensureDot(corpus)
    val cb = codebooks.getOrElse(pqCodebooks(corpus, idCol, vecCol, m, kcode))
    val dsub = cb(0)(0).length
    val codes = pqEncode(corpus, idCol, vecCol, m, kcode, Some(cb))
      .select(col(idCol).as("cid"), col("code"))
    val lutCols = (0 until m).map { s =>
      val sub = slice(col("qe"), s * dsub + 1, dsub)
      array(pqDistUs(sub, cb(s)): _*)
    }
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .select(col("qid"), array(lutCols: _*).as("lut"))
    // ADC: Σ_s lut[s][code_s] — l[c] is Spark's 0-based array subscript.
    // Ranking goes through the bounded topk_pairs aggregate: brute-force
    // ADC expands to |corpus| candidates per query, and a qid window
    // would shuffle the whole expansion — the aggregate ships ≤ k pairs
    // per query per partition instead.
    val dist = expr(
      "aggregate(zip_with(code, lut, (c, l) -> l[c]), CAST(0 AS BIGINT), (a, b) -> a + b)")
    val scored = codes.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("dist_u", dist)
    rankTopK(scored, "qid", "dist_u", "cid", k)
      .select("qid", "cid", "dist_u", "rn")
  }

  /** IVF-PQ: the composition production ANN systems (FAISS `IVFPQ`)
    * run at corpus scale — IVF restricts each query to its `nprobe`
    * nearest inverted lists, PQ codes stand in for raw vectors inside
    * the lists, and ADC ranks candidates with exact long sums. The
    * scoring join is keyed on the probed list id and moves only
    * (doc id, m-byte code) rows — at 100 TB neither raw vectors nor
    * the unprobed corpus ever reach the shuffle. Deterministic
    * end-to-end (hash-seeded centroids and codebooks, µ-unit
    * distances, id tiebreaks).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int, nprobe: Int,
                m: Int, kcode: Int,
                centroids: Option[DataFrame] = None,
                codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    ensureDot(corpus)
    // centroid seeds and codebook seeds share the same deterministic
    // md5-hash order, so when both default they come from ONE bounded
    // collect (take nlist / take kcode of the same prefix) instead of
    // two separate seed passes over the corpus
    lazy val seeds = seedVectors(corpus, idCol, vecCol, math.max(nlist, kcode))
    val cent = centroids.getOrElse(centroidsFromSeeds(corpus, vecCol, seeds.take(nlist)))
    val cb = codebooks.getOrElse(codebooksFromSeeds(seeds.take(kcode), m))
    val dsub = cb(0)(0).length
    // corpus side: inverted-list id and PQ code in ONE pass — the
    // map-only code expression rides the arg-max aggregate as a carried
    // column, replacing the old second corpus scan + id-keyed glue join
    val docs = ivfAssignWith(corpus, cent, idCol, vecCol,
        Seq("code" -> pqCodeColumn(col(vecCol), cb)))
      .select(col(idCol).as("cid_doc"), col("cid"), col("code"))

    // query side: probe set (same bounded map-side top-nprobe as
    // ivfTopK) + the ADC lookup table, both map-only per query row
    val lutCols = (0 until m).map { s =>
      val sub = slice(col("qe"), s * dsub + 1, dsub)
      array(pqDistUs(sub, cb(s)): _*)
    }
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", sqrt(dot("qe", "qe")))
      .withColumn("lut", array(lutCols: _*))
    val centN = cent.withColumn("__cn", sqrt(dot("cvec", "cvec")))
    val qsim = round(dot("qe", "cvec") / (col("qn") * col("__cn")), 6)
    val probes = q.join(broadcast(centN), lit(true))
      .withColumn("__qsim", qsim)
      .groupBy(col("qid"))
      .agg(first(col("lut")).as("lut"),
        slice(array_sort(collect_list(struct((-col("__qsim")).as("negsim"),
          col("cid").as("cid")))), 1, nprobe).as("__top"))
      .withColumn("cid", explode(expr("transform(__top, s -> s.cid)")))
      .select(col("qid"), col("lut"), col("cid"))

    val dist = expr(
      "aggregate(zip_with(code, lut, (c, l) -> l[c]), CAST(0 AS BIGINT), (a, b) -> a + b)")
    val scored = probes.join(docs, Seq("cid"))
      .filter(col("qid") =!= col("cid_doc"))
      .withColumn("dist_u", dist)
    // bounded per-query ranking (see pqTopK) — probed lists can still
    // hold a large corpus fraction, so the same ≤k-per-partition bound
    // applies
    rankTopK(scored, "qid", "dist_u", "cid_doc", k)
      .select(col("qid"), col("cid_doc").as("cid"), col("dist_u"), col("rn"))
  }

  /** Sign-LSH bucket id per vector: bit h = sign(v · w_h) where
    * w_h[i] = ((i*73 + h*37) mod 19) - 9 — integer pseudo-weights.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 numPlanes: Int): DataFrame = {
    val planes = (0 until numPlanes).map { h =>
      val d = expr(
        s"""aggregate(
           |  zip_with($vecCol, sequence(0, size($vecCol) - 1),
           |    (x, i) -> CAST(x AS DOUBLE) * (((i * 73 + $h * 37) % 19) - 9)),
           |  0D, (acc, v) -> acc + v)""".stripMargin)
      when(d > 0.0, 1L << h).otherwise(0L)
    }
    df.select(col(idCol), planes.reduce(_ + _).as("bucket"))
  }

  /** Bucketed approximate near-neighbour candidate pairs. */
  def lshCandidates(df: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int): DataFrame = {
    val b = lshBuckets(df, idCol, vecCol, numPlanes)
    val a = b.select(col("bucket"), col(idCol).as("a"))
    val bb = b.select(col("bucket"), col(idCol).as("b"))
    a.join(bb, Seq("bucket")).filter(col("a") < col("b"))
      .select("bucket", "a", "b")
  }
}

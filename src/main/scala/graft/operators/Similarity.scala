package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — SURVEY.md §7.6.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. One shuffle (the per-query
  *    rank window). The correctness baseline.
  *  - [[ivfTopK]]: IVF-style — assign vectors to their nearest centroid
  *    once, probe only `nProbe` nearest centroid cells per query. At 100 TB
  *    this turns an all-pairs O(Q·N) scan into O(Q·N·nProbe/C): the
  *    centroid set is broadcast (tiny), cell assignment is a map-side
  *    computation, and the candidate join is an equi-join on cell id —
  *    shuffle bounded by candidate rows, with AQE handling cell skew.
  *
  * Norms are computed once per row (not per pair) and the dot product is
  * the codegen'd [[graft.functions.FloatVectorDot]].
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane sign key: `bits` sign bits of
    * projections onto fixed hash-derived hyperplanes. Used as the LSH
    * bucket key for cosine candidates. Pure column expressions. `seed`
    * selects an independent hyperplane family, enabling multi-table LSH
    * (union of candidates over several seeds trades compute for recall).
    */
  def hyperplaneKey(vec: Column, bits: Int, seed: Int = 0): Column = {
    // hyperplane j component i = ((hash(i,j,seed) mod 1001) - 500) / 500.0
    def proj(j: Int): Column =
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") *
            ((pmod(hash(i, lit(j), lit(seed)).cast("long"), lit(1001L)) - 500L).cast("double") / 500.0)),
        lit(0.0), (acc, x) => acc + x)
    (0 until bits).map(j => when(proj(j) >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Deterministic spherical k-means (Lloyd) over an embedding column,
    * entirely in DataFrame ops — the trained coarse quantizer for
    * [[ivfTopK]].
    *
    * Init: deterministic hash reservoir — keep rows whose xxhash64(vid)
    * lands on a ~8k-row sample, hash each sampled row into one of k cells,
    * take the min-vid row per cell. Every step is map-side or a
    * cell-partitioned window, so init never funnels the corpus through a
    * single task (the old row_number-over-global-order init did exactly
    * that). A cell left empty by hash chance (P ≈ e^-8 per cell) just
    * yields < k centroids; Lloyd proceeds identically.
    * Iterate: assign by max cosine against broadcast centroids (map-side),
    * recompute centroids as the element-wise mean via posexplode →
    * avg(cell, pos) → reassemble. Per iteration: one broadcast join + one
    * (cell, pos)-keyed shuffle whose size is k·dim rows after partial
    * aggregation — independent of corpus size, so training scales to any
    * N.
    */
  def trainCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int): DataFrame = {
    // zero-norm vectors have no direction and poison the whole run if one
    // wins an init cell (0/0 cosine = NaN, which sorts ABOVE every real
    // similarity, so every vector would assign to that cell) — excluded
    // here exactly like the sibling operators' nrm > 0 filters
    val base = embeddings.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("vn", vectorNorm(col("v")))
      .filter(col("vn") > 0.0)
    val n = base.count()
    // ~8 sampled rows per cell so every cell is occupied w.h.p.
    val step = math.max(1L, n / math.max(1L, 8L * k))
    // min-vid representative per cell via partial-agg min_by — the same
    // row the old row_number-over-vid window picked (vids unique), no
    // window shuffle-sort (r15)
    var cent = base
      .filter(pmod(xxhash64(col("vid")), lit(step)) === 0)
      .withColumn("cell_id", pmod(xxhash64(col("vid"), lit(1)), lit(k.toLong)).cast("int"))
      .groupBy(col("cell_id"))
      .agg(min_by(col("v"), col("vid")).as("cent_v"))
      .select(col("cell_id"), col("cent_v"))
    for (_ <- 0 until iters) {
      val c = broadcast(cent.withColumn("cent_n", vectorNorm(col("cent_v"))))
      // per-vector argmax via max_by: partial-agg friendly — a window
      // would shuffle-SORT all N·k scored rows every iteration, breaking
      // the documented corpus-size-independent per-iteration cost. A
      // degenerate zero centroid (possible mean of opposing vectors)
      // scores -2 so it can never win.
      val assigned = base
        .crossJoin(c)
        .withColumn("sim",
          when(col("cent_n") > 0.0,
            vectorDot(col("v"), col("cent_v")) / (col("vn") * col("cent_n")))
            .otherwise(lit(-2.0)))
        .groupBy(col("vid"))
        .agg(max_by(struct(col("cell_id"), col("v")),
          struct(col("sim"), -col("cell_id"))).as("a"))
        .select(col("a.cell_id").as("cell_id"), col("a.v").as("v"))
      cent = assigned
        .select(col("cell_id"), posexplode(col("v")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell_id"),
          transform(col("pm"), e => e.getField("m").cast("float")).as("cent_v"))
    }
    cent.select(col("cell_id").cast("long").as(idCol), col("cent_v").as(vecCol))
  }

  /** Exact cosine top-k: for each query vector, the k nearest neighbors
    * (excluding itself). Returns (query_id, rank, neighbor_id, cosine).
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // zero-norm vectors have no defined cosine (NaN would sort first)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", vectorNorm(col("qv"))).filter(col("qn") > 0.0)
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", vectorNorm(col("cv"))).filter(col("cn") > 0.0)
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", vectorDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** HARD-NEGATIVE MINING (contrastive training data): for each anchor,
    * the exact top-k most-similar corpus vectors carrying a DIFFERENT
    * label — the near-miss negatives a metric-learning batch builder
    * pairs with every anchor (random negatives sit far from the margin
    * and teach nothing; the hardest ones carry the gradient — the
    * FaceNet observation, run corpus-wide as a batch op).
    *
    * Exact by construction (anchors × corpus cosine under a label
    * inequality), with the per-anchor top-k as the bounded
    * [[graft.functions.TopKByScoreAgg]] — ≤ k rows per (anchor, map
    * task) reach the shuffle, never the scored row count. Output
    * `(anchor_id, anchor_label, rank, negative_id, negative_label)`,
    * rank deterministic (score desc, id asc). Scale shape: O(anchors ×
    * corpus) FLOPs like every exact pass — mine for an epoch's anchor
    * SAMPLE, or use [[hardNegativesIvf]] (cell-routed candidates) when
    * the product explodes; this is the exact baseline that
    * approximation is measured against (q152's recall contract).
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    requireIntegralId(corpus, idCol)
    val a = anchors.select(col(idCol).as("anchor_id"),
        col(labelCol).as("anchor_label"), col(vecCol).as("qv"))
      .withColumn("qn", vectorNorm(col("qv"))).filter(col("qn") > 0.0)
    val c = corpus.select(col(idCol).as("negative_id"),
        col(labelCol).as("negative_label"), col(vecCol).as("cv"))
      .withColumn("cn", vectorNorm(col("cv"))).filter(col("cn") > 0.0)
    val scored = a.crossJoin(c)
      .filter(col("anchor_label") =!= col("negative_label"))
      .withColumn("cosine",
        vectorDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    negativesTopK(scored, c, k)
  }

  /** Shared tail of the exact and IVF hard-negative paths: the bounded
    * per-anchor top-k over pre-scored other-label candidates, then the
    * corpus re-join that restores the negative id's TYPE and label.
    */
  private def negativesTopK(scored: DataFrame, c: DataFrame,
                            k: Int): DataFrame = {
    val top = scored.groupBy(col("anchor_id"), col("anchor_label"))
      .agg(graft.functions.VectorFunctions.topKByScore(
        col("cosine"), col("negative_id").cast("long"), k).as("top"))
      .select(col("anchor_id"), col("anchor_label"),
        posexplode(col("top")).as(Seq("r", "e")))
      .select(col("anchor_id"), col("anchor_label"),
        (col("r") + 1).cast("int").as("rank"), col("e.id").as("nid"))
    // negative ids re-join the corpus so the output keeps the corpus id
    // TYPE and carries the negative's label
    top.join(c.select(col("negative_id"), col("negative_label")),
        col("nid") === col("negative_id").cast("long"))
      .select(col("anchor_id"), col("anchor_label"), col("rank"),
        col("negative_id"), col("negative_label"))
  }

  /** LABEL-CONSTRAINED APPROXIMATE hard negatives — [[hardNegatives]]
    * with IVF cell routing composed in front (the [[ivfPqTopK]]
    * precedent): each corpus vector indexes into ONE coarse cell, each
    * anchor probes its `nProbe` nearest cells, and only the probed
    * cells' OTHER-label vectors are cosine-scored — the candidate set
    * shrinks from O(anchors × corpus) to O(anchors × corpus ·
    * nProbe / C). The per-anchor top-k and the label re-join are the
    * exact path's own tail, so the two outputs differ ONLY by cell
    * recall (measured against the q149 exact baseline in q152's
    * in-query contract). Hard negatives tolerate approximation
    * gracefully: a missed near-boundary negative is replaced by the
    * next-hardest one, still a useful gradient — the FaceNet batch
    * construction never needed exactness either.
    *
    * Scale shape: centroids broadcast; cell assignment map-side; the
    * candidate join is an equi-join on cell_id (never a cross join);
    * ≤ k rows per (anchor, map task) reach the shuffle.
    */
  def hardNegativesIvf(anchors: DataFrame, corpus: DataFrame,
                       centroids: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, k: Int, nProbe: Int): DataFrame = {
    requireIntegralId(corpus, idCol)
    val cent = centFrame(centroids, idCol, vecCol)
    // assignCells projects to (id, vec, norm, cell): labels re-join by id
    val c = assignCells(cent, corpus, idCol, vecCol, 1)
      .join(corpus.select(col(idCol), col(labelCol)), Seq(idCol))
      .select(col(idCol).as("negative_id"),
        col(labelCol).as("negative_label"), col(vecCol).as("cv"),
        col("vn").as("cn"), col("cell_id"))
    val a = assignCells(cent, anchors, idCol, vecCol, nProbe)
      .join(anchors.select(col(idCol), col(labelCol)), Seq(idCol))
      .select(col(idCol).as("anchor_id"),
        col(labelCol).as("anchor_label"), col(vecCol).as("qv"),
        col("vn").as("qn"), col("cell_id"))
    // corpus vectors live in exactly ONE cell (keep = 1), so an
    // (anchor, negative) pair appears at most once across probed cells.
    // The probed-anchor side BROADCASTS (anchors are an epoch sample —
    // small by contract): without the hint this equi-join would shuffle
    // the WHOLE corpus onto ≤ C distinct cell keys, one reducer per
    // cell — the skewed-shuffle shape the cell routing exists to avoid
    // (review r14; the ivfPqTopK query side broadcasts for the same
    // reason, and the census twin below already did)
    val scored = broadcast(a).join(c, Seq("cell_id"))
      .filter(col("anchor_label") =!= col("negative_label"))
      .withColumn("cosine",
        vectorDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    negativesTopK(scored,
      c.select(col("negative_id"), col("negative_label")), k)
  }

  /** PRODUCT-QUANTIZATION codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * (L2-normalized) vector into `m` equal blocks and train an
    * independent k-codeword L2 Lloyd quantizer per block. Returns
    * `(block, code, cent_v)`. Everything is DataFrame ops with the same
    * scale shape as [[trainCentroids]]: per iteration one broadcast
    * join + one (code, pos)-keyed shuffle of k·dim rows after partial
    * aggregation — independent of corpus size. Normalizing before
    * training makes the ADC dot product approximate COSINE, matching
    * the exact baseline's metric.
    */
  def trainPqCodebooks(embeddings: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, iters: Int): DataFrame = {
    val unit = normalized(embeddings, idCol, vecCol)
    // ONE action probes the dim range AND the sample-sizing count (each
    // Spark action pays its own planning/AQE constant). An empty or
    // all-zero corpus and a ragged one fail loudly: books trained on
    // nothing, or sliced by one row's dim, would be silently wrong.
    // (Zero-length vectors have norm 0 and never survive `normalized`,
    // so a non-empty corpus has dim > 0.)
    val probe = unit.agg(count(lit(1)), min(size(col("v"))),
      max(size(col("v")))).head
    val n = probe.getLong(0)
    require(n > 0, "PQ training needs a non-empty corpus of non-zero vectors")
    val dim = probe.getInt(1)
    require(probe.getInt(2) == dim,
      s"PQ training needs one vector dimension, got $dim to ${probe.getInt(2)}")
    require(dim % m == 0, s"dim $dim must divide into $m equal blocks")
    val blockLen = dim / m
    // ONE blocked Lloyd for all m quantizers: `block` rides the key
    // through init, assignment and recentering, so each iteration is ONE
    // broadcast (m·k codewords) + ONE (block, code, pos)-keyed shuffle —
    // the former per-block driver loop built m independent Lloyd
    // pipelines whose final union evaluated ~6 jobs per block (init
    // window, per-iteration broadcast + aggregate), ~45 jobs for m=8
    // (q124 profile). Per-block math is unchanged: the init sample and
    // per-cell representative hash only `vid`, identical across blocks
    // (exactly what the per-block loop computed), and each block's
    // argmin/mean never mixes with another block's.
    val base = unit
      .withColumn("block", explode(sequence(lit(0), lit(m - 1))))
      .select(col("vid"), col("block"),
        slice(col("v"), col("block") * blockLen + 1, lit(blockLen)).as("v"))
    val step = math.max(1L, n / math.max(1L, 8L * k))
    // min-vid representative per (block, code) via partial-agg min_by —
    // the same row the old row_number-over-vid window picked (vids are
    // unique), without the window's full shuffle-sort (r15)
    var cent = base
      .filter(pmod(xxhash64(col("vid")), lit(step)) === 0)
      .withColumn("code",
        pmod(xxhash64(col("vid"), lit(1)), lit(k.toLong)).cast("int"))
      .groupBy(col("block"), col("code"))
      .agg(min_by(col("v"), col("vid")).as("cent_v"))
      .select(col("block"), col("code"), col("cent_v"))
    for (_ <- 0 until iters) {
      val c = broadcast(cent
        .withColumn("cn2", vectorDot(col("cent_v"), col("cent_v"))))
      val assigned = base
        .join(c, Seq("block"))
        .withColumn("d2",
          col("cn2") - lit(2.0) * vectorDot(col("v"), col("cent_v")))
        .groupBy(col("block"), col("vid"))
        .agg(min_by(struct(col("code"), col("v")),
          struct(col("d2"), col("code"))).as("a"))
        .select(col("block"), col("a.code").as("code"), col("a.v").as("v"))
      cent = assigned
        .select(col("block"), col("code"), posexplode(col("v")))
        .groupBy(col("block"), col("code"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("block"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("block"), col("code"),
          transform(col("pm"), e => e.getField("m").cast("float")).as("cent_v"))
    }
    cent.select(col("block"), col("code"), col("cent_v"))
  }

  /** PQ-encode: per vector, the `m`-entry code array (nearest codeword
    * per block, L2). One broadcast join against the codebooks; the
    * argmin is a partial-agg `min_by`, the reassembly one (id)-keyed
    * aggregation — a 100 TB corpus encodes in two passes with no
    * window sort. Output `(idCol, codes array<int>)`.
    */
  def encodePq(embeddings: DataFrame, codebooks: DataFrame,
               idCol: String, vecCol: String, m: Int): DataFrame =
    encodePq(embeddings, codebooks, idCol, vecCol, m,
      embeddings.select(size(col(vecCol))).head.getInt(0))

  /** [[encodePq]] with the caller's already-probed `dim` — the probe is
    * a full Spark action (planning + one job), and pqTopK/ivfPqTopK had
    * already paid it (r15: three probes per ANN query → one).
    */
  private def encodePq(embeddings: DataFrame, codebooks: DataFrame,
                       idCol: String, vecCol: String, m: Int,
                       dim: Int): DataFrame = {
    val blockLen = dim / m
    val cb = broadcast(codebooks
      .withColumn("cn2", vectorDot(col("cent_v"), col("cent_v"))))
    normalized(embeddings, idCol, vecCol)
      .withColumn("block", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("bv", slice(col("v"),
        col("block") * blockLen + 1, lit(blockLen)))
      .join(cb, Seq("block"))
      // |bv - c|² = |bv|² - 2·bv·c + |c|²; |bv|² is constant per (vid,
      // block), so the argmin needs only the last two terms
      .withColumn("d2", col("cn2") - lit(2.0) * vectorDot(col("bv"), col("cent_v")))
      .groupBy(col("vid"), col("block"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy(col("vid"))
      .agg(array_sort(collect_list(struct(col("block"), col("code")))).as("bc"))
      .select(col("vid").as(idCol),
        transform(col("bc"), e => e.getField("code")).as("codes"))
  }

  /** PQ ANN with asymmetric distance + exact re-rank (the production
    * IVF-PQ recipe's scoring half): per query, a per-block dot-product
    * TABLE against the codewords folds each candidate's score to `m`
    * table lookups over its code array (no vector math per pair); the
    * ADC top-`shortlist` then re-ranks by EXACT cosine against the
    * original vectors and the true top-k emerges. At 100 TB the
    * candidate scoring touches only the (id, codes) index — m bytes a
    * vector instead of 4·dim — and the exact math runs on
    * shortlist·|Q| rows, not N·|Q|. Output matches [[bruteForceTopK]]:
    * (query_id, rank, neighbor_id, cosine).
    */
  def pqTopK(embeddings: DataFrame, codebooks: DataFrame,
             queries: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int, shortlist: Int = 50): DataFrame = {
    requireIntegralId(embeddings, idCol)
    val dim = embeddings.select(size(col(vecCol))).head.getInt(0)
    val blockLen = dim / m
    // the codebooks lineage (m Lloyd runs) is consumed three times below
    // (stride probe, encode, query tables) — materialize it once
    val cb0 = codebooks.cache()
    val stride = adcStride(cb0)
    val codes = encodePq(embeddings, cb0, idCol, vecCol, m, dim)
      .withColumnRenamed(idCol, "neighbor_id")
    val qTabs = broadcast(
      adcTables(queries, cb0, idCol, vecCol, m, blockLen, stride))
    val scored = qTabs.crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcScore(m, stride))
    rerankShortlist(scored, embeddings, idCol, vecCol, k, shortlist)
  }

  /** ADC key stride derived from the BOOKS THEMSELVES (max code + 1): a
    * caller-supplied stride smaller than the trained code range would
    * collide keys across blocks and silently corrupt scores — the same
    * misalignment class the map-vs-dense-array fix closed, reintroduced
    * through a parameter (r11 ADVICE). [[adcTables]] and [[adcScore]]
    * must share ONE stride value.
    */
  private def adcStride(codebooks: DataFrame): Int =
    codebooks.agg(max(col("code"))).head.getInt(0) + 1

  /** Per-query ADC lookup TABLE as a MAP keyed `block·stride + code` —
    * an EXACT lookup whatever codes each block's trained book actually
    * holds (Lloyd may return fewer codewords when cells empty out; a
    * dense-array index would silently misalign the scores — caught by
    * PlanShapeSpec's tiny-book run). Output (query_id, tab); callers
    * broadcast it.
    */
  private def adcTables(queries: DataFrame, codebooks: DataFrame,
                        idCol: String, vecCol: String,
                        m: Int, blockLen: Int, stride: Int): DataFrame =
    normalized(queries, idCol, vecCol)
      .withColumn("block", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("qb", slice(col("v"),
        col("block") * blockLen + 1, lit(blockLen)))
      .join(broadcast(codebooks), Seq("block"))
      .withColumn("d", vectorDot(col("qb"), col("cent_v")))
      .groupBy(col("vid"))
      .agg(map_from_entries(collect_list(struct(
        (col("block") * stride + col("code")).cast("int").as("k"),
        col("d").as("v")))).as("tab"))
      .select(col("vid").as("query_id"), col("tab"))

  /** The ADC score of a `codes` row against its `tab` map — the key
    * formula is [[adcTables]]'s, so the two can never drift apart.
    * Codes only ever name codewords the books hold, so the map lookup
    * never misses for vectors encoded by THESE books.
    */
  private def adcScore(m: Int, stride: Int): Column =
    aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, b) => element_at(col("tab"), (b * stride + c).cast("int"))),
      lit(0.0), (acc, x) => acc + x)

  /** The bounded-shortlist heap keys on LONG ids — a non-integral id
    * would cast to null and silently skip every row (empty result, no
    * error). Fail at planning instead; hash a string id to a surrogate
    * long first if needed.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema.find(_.name.equalsIgnoreCase(idCol))
      .map(_.dataType)
    require(dt.exists {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }, s"PQ/IVFADC top-k needs an integral id column; $idCol is " +
      s"${dt.map(_.catalogString).getOrElse("missing")}")
  }

  /** ADC-scored candidates → bounded top-`shortlist` per query → exact
    * cosine re-rank. The shortlist is a [[graft.functions.TopKByScoreAgg]]
    * partial aggregation, NOT a `row_number` window: the window's shuffle
    * carries every scored row (Q·N at the exhaustive layout), the bounded
    * aggregate ships ≤ shortlist rows per (query, map task). Ids must be
    * integral (cast to long inside the heap; the original id type is
    * recovered by the re-rank join).
    */
  private def rerankShortlist(scored: DataFrame, embeddings: DataFrame,
                              idCol: String, vecCol: String,
                              k: Int, shortlist: Int): DataFrame = {
    val short = scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.topKByScore(
        col("adc"), col("neighbor_id").cast("long"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("nid"))
    // exact re-rank of the shortlist only; neighbor_id is re-read from
    // the embeddings side so the output keeps the corpus id TYPE
    val vecs = embeddings.select(col(idCol), col(vecCol))
      .withColumn("nrm", vectorNorm(col(vecCol))).filter(col("nrm") > 0.0)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    short
      .join(vecs.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col("nrm").as("qn")), Seq("query_id"))
      .join(vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("nrm").as("cn")),
        col("nid") === col("neighbor_id"))
      .withColumn("cosine",
        vectorDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Matryoshka-style truncated-dimension ANN (Kusupati et al. 2022):
    * score every candidate on only the FIRST `prefixDims` vector
    * components (a prefix dot product — `prefixDims/d` of the flat
    * scan's FLOP cost, and at rest the scan could read a physically
    * truncated column), keep a bounded top-`shortlist` per query
    * ([[graft.functions.TopKByScoreAgg]] — ≤ shortlist rows per (query,
    * map task) reach the shuffle), exact full-dimension cosine re-rank.
    *
    * The cheapest member of the ANN family — no training, no index —
    * and the right first cut when the embedding model was trained with
    * matryoshka loss (information concentrates in the prefix). Honest
    * scale note: the scan is still O(N) per query like [[pqTopK]]'s
    * flat ADC — the win is constant-factor FLOPs/bytes, not candidate
    * count; compose under [[ivfTopK]]'s cell routing when N×Q makes
    * even the cheap scan the bottleneck.
    */
  def truncatedTopK(embeddings: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    prefixDims: Int = 16, shortlist: Int = 100): DataFrame = {
    requireIntegralId(embeddings, idCol)
    require(prefixDims >= 1, s"prefixDims must be positive: $prefixDims")
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    def prefixed(df: DataFrame, id: String, v: String, n: String) = df
      .select(col(idCol).as(id), slice(col(vecCol), 1, prefixDims).as(v))
      .withColumn(n, vectorNorm(col(v)))
      .filter(col(n) > 0.0)
    val cand = prefixed(embeddings, "neighbor_id", "pv", "pn")
    val q = prefixed(queries, "query_id", "qpv", "qpn")
    // prefix cosine as the shortlist score; self never shortlists
    val scored = q.crossJoin(cand)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc",
        vectorDot(col("qpv"), col("pv")) / (col("qpn") * col("pn")))
    rerankShortlist(scored, embeddings, idCol, vecCol, k, shortlist)
  }

  /** Per-dimension SQ8 quantization bounds over the corpus: ONE row of
    * `(lo array<float>, step array<float>)` with `step = (hi−lo)/255`.
    * The per-dimension extremes come from a posexplode + min/max — the
    * [[trainCentroids]] centroid-update shape: partial aggregation folds
    * each task's rows to ≤ dims rows before the shuffle, so the pass is
    * one linear scan whatever the corpus size, and the result is
    * driver-tiny by construction.
    */
  def sq8Bounds(embeddings: DataFrame, vecCol: String): DataFrame =
    embeddings.select(posexplode(col(vecCol)))
      .groupBy(col("pos"))
      .agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
      .groupBy()
      .agg(array_sort(collect_list(
        struct(col("pos"), col("lo"), col("hi")))).as("pm"))
      .select(
        transform(col("pm"), e => e.getField("lo")).as("lo"),
        transform(col("pm"), e =>
          ((e.getField("hi") - e.getField("lo")) / lit(255.0f))
            .cast("float")).as("step"))

  /** Quantize the corpus against precomputed [[sq8Bounds]]: `(id,
    * codes binary)` at one byte per dimension — the index build.
    * The bounds row rides in as a broadcast cross join (one row);
    * encoding is the codegen'd [[graft.functions.Sq8EncodeExpr]].
    */
  def sq8Encode(embeddings: DataFrame, idCol: String, vecCol: String,
                bounds: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(bounds))
      .select(col(idCol),
        graft.functions.VectorFunctions.sq8Encode(
          col(vecCol), col("lo"), col("step")).as("codes"))

  /** SQ8 scalar-quantized ANN (the int8 flat index every vector store
    * ships as its memory-bound default): corpus stored as 1-byte-per-dim
    * codes (4× smaller than float32 at rest, in cache, and in shuffle),
    * scored ASYMMETRICALLY — full-precision query against quantized
    * corpus, the standard accuracy-preserving choice. Per query the
    * pre-scaled weights `qs[d] = q[d]·step[d]` make the byte-dot kernel
    * rank candidates identically to the dequantized dot (the `Σ q·lo`
    * offset is constant per query), a bounded [[graft.functions
    * .TopKByScoreAgg]] shortlist keeps ≤ `shortlist` rows per (query,
    * map task), and the exact cosine re-rank recovers true scores.
    *
    * Like [[pqTopK]] this is the FLAT scan — O(N) bytes per query, at
    * 1/4 the bytes of the float scan; compose behind [[ivfTopK]] cell
    * routing when N×Q outgrows even that (the [[ivfPqTopK]] precedent).
    * Queries must carry rows in `embeddings` space (bounds come from
    * the corpus alone).
    */
  def sq8TopK(embeddings: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String,
              k: Int, shortlist: Int = 50): DataFrame = {
    requireIntegralId(embeddings, idCol)
    val bounds = sq8Bounds(embeddings, vecCol).cache()
    val codes = sq8Encode(embeddings, idCol, vecCol, bounds)
      .withColumnRenamed(idCol, "neighbor_id")
    val qs = broadcast(queries.crossJoin(bounds)
      .select(col(idCol).as("query_id"),
        zip_with(col(vecCol), col("step"),
          (x, st) => (x * st).cast("float")).as("qs")))
    val scored = qs.crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc",
        graft.functions.VectorFunctions.sq8ByteDot(col("qs"), col("codes")))
    rerankShortlist(scored, embeddings, idCol, vecCol, k, shortlist)
  }

  /** (vid, v) with v L2-normalized; zero-norm vectors excluded (they
    * have no direction — same rule as every cosine operator here).
    */
  private def normalized(df: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), col(vecCol).as("v0"))
      .withColumn("nrm", vectorNorm(col("v0")))
      .filter(col("nrm") > 0.0)
      .select(col("vid"),
        transform(col("v0"), x => (x / col("nrm")).cast("float")).as("v"))

  /** Nearest-centroid cell assignment: nearest `keep` centroids per
    * vector (broadcast join; keep=1 uses a partial-agg max_by instead of
    * a window's full shuffle-sort of the N·k scored rows; keep>1 needs
    * the ranked rows). `cent` must be the broadcast
    * (cell_id, cent_v, cent_n) frame. A zero centroid scores -2 so it
    * never wins a probe. Output: (id, cell_id, v, vn).
    */
  private def assignCells(cent: DataFrame, df: DataFrame,
                          id: String, v: String, keep: Int): DataFrame = {
    val scored = df.select(col(id), col(v))
      .withColumn("vn", vectorNorm(col(v)))
      .filter(col("vn") > 0.0)
      .crossJoin(cent)
      .withColumn("cent_sim",
        when(col("cent_n") > 0.0,
          vectorDot(col(v), col("cent_v")) / (col("vn") * col("cent_n")))
          .otherwise(lit(-2.0)))
    if (keep == 1)
      scored.groupBy(col(id))
        .agg(max_by(struct(col("cell_id"), col(v), col("vn")),
          struct(col("cent_sim"), -col("cell_id"))).as("a"))
        .select(col(id), col(s"a.cell_id").as("cell_id"),
          col(s"a.$v").as(v), col("a.vn").as("vn"))
    else {
      val w = Window.partitionBy(col(id))
        .orderBy(col("cent_sim").desc, col("cell_id").asc)
      scored
        .withColumn("cell_rank", row_number().over(w))
        .filter(col("cell_rank") <= keep)
        .drop("cent_v", "cent_n", "cent_sim", "cell_rank")
    }
  }

  /** The broadcast coarse-quantizer frame [[assignCells]] consumes. */
  private def centFrame(centroids: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    broadcast(centroids
      .select(col(idCol).as("cell_id"), col(vecCol).as("cent_v"))
      .withColumn("cent_n", vectorNorm(col("cent_v"))))

  /** IVF-style ANN: cluster by nearest centroid, probe nProbe cells.
    *
    * `centroids` plays the role of a trained coarse quantizer; any small
    * deterministic sample works for the plumbing (k-means would slot in
    * identically). Both centroid joins are broadcast.
    */
  def ivfTopK(embeddings: DataFrame, centroids: DataFrame,
              queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nProbe: Int): DataFrame = {
    val cent = centFrame(centroids, idCol, vecCol)
    def assign(df: DataFrame, id: String, v: String, keep: Int): DataFrame =
      assignCells(cent, df, id, v, keep)

    val indexed = assign(embeddings, idCol, vecCol, 1)
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed(vecCol, "cv")
      .withColumnRenamed("vn", "cn")
    val probed = assign(queries, idCol, vecCol, nProbe)
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "qv")
      .withColumnRenamed("vn", "qn")

    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probed.join(indexed, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", vectorDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** IVFADC — the composed IVF×PQ index (Jégou et al. 2011 §IV): coarse
    * centroids route each vector to ONE cell and each query to its
    * `nProbe` nearest cells; PQ codes ADC-score ONLY the probed cells'
    * candidates; the exact re-rank of a bounded shortlist recovers true
    * cosines. Per query the scored set shrinks from O(N) (the flat-ADC
    * layout of [[pqTopK]]) to O(N·nProbe/C) — the difference between a
    * billion-vector index answering and scanning.
    *
    * PQ codes are trained and encoded on the RAW normalized blocks, not
    * per-cell residuals: residual encoding needs per-cell codebooks (C
    * independent Lloyd runs, C·k·dim broadcast state) for a recall gain
    * that matters when cells are tight; raw-block codes keep ONE
    * codebook set, reuse [[trainPqCodebooks]]/[[encodePq]] verbatim, and
    * the exact re-rank absorbs most of the residual-vs-raw gap. The
    * shortlist is the bounded [[graft.functions.TopKByScoreAgg]]
    * (≤ shortlist rows per query per map task through the shuffle).
    *
    * Plan shape at scale: centroids broadcast (tiny); cell assignment
    * map-side; the query side (probed cells × dot tables) broadcasts —
    * Q·nProbe rows of m·k-entry maps — so the candidate join is a
    * map-side hash join on cell_id over the (cell_id, codes) index:
    * the corpus is never shuffled, never cross-joined.
    */
  def ivfPqTopK(embeddings: DataFrame, centroids: DataFrame,
                codebooks: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String,
                k: Int, m: Int, nProbe: Int,
                shortlist: Int = 50): DataFrame = {
    requireIntegralId(embeddings, idCol)
    val dim = embeddings.select(size(col(vecCol))).head.getInt(0)
    val blockLen = dim / m
    val cent = centFrame(centroids, idCol, vecCol)
    val cb0 = codebooks.cache()
    val stride = adcStride(cb0)
    // the index: (cell_id, neighbor_id, codes) — one co-partitioned
    // id-join of the two per-vector derivations
    val cells = assignCells(cent, embeddings, idCol, vecCol, 1)
      .select(col(idCol), col("cell_id"))
    val index = encodePq(embeddings, cb0, idCol, vecCol, m, dim)
      .join(cells, Seq(idCol))
      .select(col(idCol).as("neighbor_id"), col("cell_id"), col("codes"))
    // query side: probed cells × per-query ADC dot tables, broadcast
    val qTabs = adcTables(queries, cb0, idCol, vecCol, m, blockLen, stride)
    val probed = assignCells(cent, queries, idCol, vecCol, nProbe)
      .select(col(idCol).as("query_id"), col("cell_id"))
    val qSide = broadcast(probed.join(qTabs, Seq("query_id")))
    // candidate scoring: equi-join on cell_id — only probed cells' codes
    // are ever touched (PlanShapeSpec pins there is no cross join here)
    val scored = index.join(qSide, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcScore(m, stride))
    rerankShortlist(scored, embeddings, idCol, vecCol, k, shortlist)
  }

  /** Probed-candidate census for [[ivfPqTopK]]'s scale evidence: how
    * many (query, neighbor) candidate rows the probed cells admit —
    * exactly what the ADC stage scores, vs Q·(N-1) at the flat layout.
    */
  def ivfCandidateCensus(embeddings: DataFrame, centroids: DataFrame,
                         queries: DataFrame, idCol: String, vecCol: String,
                         nProbe: Int): Long = {
    val cent = centFrame(centroids, idCol, vecCol)
    val cells = assignCells(cent, embeddings, idCol, vecCol, 1)
      .select(col(idCol).as("neighbor_id"), col("cell_id"))
    val probed = assignCells(cent, queries, idCol, vecCol, nProbe)
      .select(col(idCol).as("query_id"), col("cell_id"))
    broadcast(probed).join(cells, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id")).count()
  }

  /** Candidate census for [[hardNegativesIvf]]'s scale evidence: how
    * many (anchor, other-label candidate) rows the probed cells admit —
    * exactly what the approximate miner cosine-scores, vs the exact
    * path's anchors × other-label corpus product.
    */
  def hardNegativesIvfCensus(anchors: DataFrame, corpus: DataFrame,
                             centroids: DataFrame, idCol: String,
                             vecCol: String, labelCol: String,
                             nProbe: Int): Long = {
    val cent = centFrame(centroids, idCol, vecCol)
    val cells = assignCells(cent, corpus, idCol, vecCol, 1)
      .join(corpus.select(col(idCol), col(labelCol)), Seq(idCol))
      .select(col(idCol).as("negative_id"),
        col(labelCol).as("negative_label"), col("cell_id"))
    val probed = assignCells(cent, anchors, idCol, vecCol, nProbe)
      .join(anchors.select(col(idCol), col(labelCol)), Seq(idCol))
      .select(col(idCol).as("anchor_id"),
        col(labelCol).as("anchor_label"), col("cell_id"))
    broadcast(probed).join(cells, Seq("cell_id"))
      .filter(col("anchor_label") =!= col("negative_label")).count()
  }
}

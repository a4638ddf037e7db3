package graft

import org.apache.spark.sql.functions._

import graft.core.{IngestFlags, SourceConfig}
import graft.merge.ChangeSet
import graft.operators.Similarity

/** Structural plan pins — the properties the 100 TB design leans on,
  * asserted against the OPTIMIZED/EXECUTED plans so a regression in
  * pushdown, join strategy, or codegen surfaces as a red test instead
  * of a silent slowdown the bench's machine-noise envelope might hide.
  * Assertions are deliberately loose string probes (plan rendering
  * changes across Spark versions; the PROPERTY must hold, not the
  * exact text).
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("filter and projection reach the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") < 10.0)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters:") &&
      scan.contains("LessThan(l_quantity"),
      s"the filter must push to the scan:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("l_comment"),
      "projection pruning must drop unreferenced columns from the scan")
  }

  test("change-set diff plans broadcast joins, target cached once") {
    val target = (1 to 2000)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        s"v$i"))
      .toDF("id", "upd", "payload")
    val source = (1990 to 2010)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"),
        s"w$i"))
      .toDF("id", "upd", "payload")
    val cached = target.cache()
    try {
      val cs = ChangeSet.build(source, cached,
        SourceConfig("t", "t", Seq("id"), Seq("upd")).naturalKeys,
        Seq("upd"), IngestFlags(), allowDeletes = true)
      val plan = cs.queryExecution.executedPlan.toString()
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(bhj >= 2,
        s"small change batches must broadcast against the target " +
          s"($bhj BroadcastHashJoin):\n${plan.take(2000)}")
      assert(plan.contains("InMemoryTableScan"),
        "the multi-consumed target must read from the cache")
    } finally cached.unpersist()
  }

  test("brute cosine top-k runs inside whole-stage codegen") {
    val vecs = (1 to 200)
      .map(i => (i.toLong, Array.tabulate(8)(d => 1.0f / (i % 7 + d + 1))))
      .toDF("id", "embedding")
    val queries = vecs.limit(3)
    val df = Similarity.bruteForceTopK(queries, vecs, "id", "embedding", 5)
    df.collect() // AQE finalizes the physical plan on execution
    val plan = df.queryExecution.executedPlan.toString()
    // `*(n)` prefixes mark whole-stage-codegen stages in the compact
    // rendering; the scoring projection must sit inside one
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined,
      s"the scoring pipeline must stay codegen'd:\n${plan.take(1500)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"),
      "no interpreted UDF may enter the scoring path")
  }

  test("gram metrics aggregate map-side; no cartesian, bounded exchanges") {
    val docs = (1 to 500).map(i => (i.toLong, s"w${i % 7} x y z a b c d e"))
      .toDF("doc_id", "text")
    for (df <- Seq(
        graft.operators.TextAnalysis.ngramRepetitionMetrics(docs, "doc_id", "text", 2),
        graft.operators.TextAnalysis.sharedWindowStats(docs, "doc_id", "text", 3))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct"),
        s"gram pipelines must never go quadratic:\n${plan.take(1500)}")
      // every gram/doc aggregation must split partial+final around its
      // exchange — a single-shot agg would shuffle raw gram occurrences
      assert(plan.contains("partial_"),
        s"aggregates must combine map-side:\n${plan.take(1500)}")
      // count the FINAL adaptive plan only — the rendering repeats
      // exchanges in the initial-plan section
      val finalPlan = plan.split("== Initial Plan ==").head
      val exchanges = "Exchange".r.findAllIn(finalPlan).size
      assert(exchanges <= 5, s"gram pipelines shuffle gram/doc-keyed " +
        s"only ($exchanges exchanges):\n${finalPlan.take(1500)}")
    }
  }

  test("PQ scoring broadcasts codebooks/tables; no sort-merge join") {
    val vecs = (1 to 300)
      .map(i => (i.toLong, Array.tabulate(8)(d => 1.0f / (i % 7 + d + 1))))
      .toDF("id", "embedding")
    val books = Similarity.trainPqCodebooks(vecs, "id", "embedding",
      m = 4, k = 4, iters = 1)
    val df = Similarity.pqTopK(vecs, books, vecs.limit(3), "id", "embedding",
      k = 3, m = 4, shortlist = 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Broadcast"),
      s"codebooks and query tables must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      "candidate scoring must never sort-merge the corpus against " +
        s"the tiny side:\n${plan.take(1500)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"))
    // the ADC shortlist is the BOUNDED top-k aggregate, not a window:
    // a row_number window's shuffle carries every scored row (Q·N);
    // the aggregate's partial buffers ship ≤ shortlist per map task
    assert(plan.contains("top_k_by_score"),
      s"the shortlist must use the bounded top-k aggregate:\n${plan.take(1500)}")
    // no Window node may rank the ADC-scored candidates (the cached
    // codebooks' InMemoryRelation rendering legitimately shows the
    // Lloyd-init windows, so count only windows ordering by `adc`)
    assert("Window \\[[^\\n]*adc#".r.findFirstIn(plan).isEmpty,
      s"the ADC candidate set must never feed a window:\n${plan.take(1500)}")
  }

  test("IVFADC candidate scoring joins on cell_id — the corpus codes " +
      "are never cross-joined or shuffled against the query side") {
    val vecs = (1 to 300)
      .map(i => (i.toLong, Array.tabulate(8)(d =>
        (if (i % 2 == 0) 1.0f else -1.0f) / (i % 7 + d + 1))))
      .toDF("id", "embedding")
    // tiny books AND tiny centroid set — the degenerate-size run that
    // catches index-math misalignment (kept from the r11 lesson)
    val cents = Similarity.trainCentroids(vecs, "id", "embedding",
      k = 4, iters = 1)
    val books = Similarity.trainPqCodebooks(vecs, "id", "embedding",
      m = 4, k = 4, iters = 1)
    val df = Similarity.ivfPqTopK(vecs, cents, books, vecs.limit(3),
      "id", "embedding", k = 3, m = 4, nProbe = 2, shortlist = 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // the ONLY corpus-wide joins are hash joins keyed by cell_id (codes
    // index × broadcast query side) and the id-keyed encode/re-rank
    // joins; centroid ASSIGNMENT cross-joins against the broadcast
    // centroid set by design (tiny side), so assert the candidate join
    // shape positively instead of banning nested-loop joins outright
    assert("BroadcastHashJoin \\[cell_id".r.findFirstIn(plan).isDefined,
      s"candidate scoring must hash-join on cell_id with the query " +
        s"side broadcast:\n${plan.take(2500)}")
    assert(!"SortMergeJoin \\[cell_id".r.findFirstIn(plan).isDefined,
      "the codes index must never shuffle-sort on cell_id")
    assert(plan.contains("top_k_by_score"),
      "the IVFADC shortlist must use the bounded top-k aggregate")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"))
  }

  test("DSIR scoring and selection plan has NO window at all — the " +
      "corpus-wide row_number was the r12 scale flag") {
    val docs = (1 to 200).map(i =>
      (i.toLong, s"some words here number ${i % 9}", i % 3 == 0))
      .toDF("doc_id", "text", "is_en")
    val df = graft.operators.Sampling.dsirImportance(docs, "doc_id",
      "text", isTarget = col("is_en"), nBuckets = 64, selectPerMille = 250)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // not one Window node anywhere: census totals ride a broadcast
    // cross join, the selection threshold is two bounded histogram
    // passes + a map-side comparison
    assert(!plan.contains("Window"),
      s"DSIR must not plan any window:\n${plan.take(2000)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"))
  }

  test("tokenBudgetSample has no stratum-only window — the per-stratum " +
      "cumulative sum was the r13 scale flag") {
    val docs = (1 to 400).map(i =>
      (i.toLong, if (i % 3 == 0) "aa" else "bb", "w x y z"))
      .toDF("doc_id", "lang", "text")
    val budgets = Seq(("aa", 100L), ("bb", 40L))
      .toDF("lang", "allocated_tokens")
    val df = graft.operators.Sampling.tokenBudgetSample(
      docs, "lang", "doc_id", "text", budgets)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // the only window allowed is the within-bucket prefix sum — its
    // partition spec must carry the id-bucket column alongside the
    // stratum, so no task ever sorts a whole stratum. A Window node
    // renders its partition spec as the second bracket group:
    // `Window [fns...], [partition...], [order...]` — a group reading
    // `[lang#N]` alone is the flagged shape.
    assert("\\], \\[lang#\\d+\\], \\[".r.findFirstIn(plan).isEmpty,
      s"no window may partition by the stratum alone:\n${plan.take(2000)}")
    assert(plan.contains("Window"),
      "the within-bucket prefix sum is expected to be a window")
    assert("\\], \\[lang#\\d+, __b#\\d+L?\\], \\[".r
      .findFirstIn(plan).isDefined,
      s"the prefix-sum window must be bucket-partitioned:\n${plan.take(2000)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"))
    // value contract unchanged vs the single-window formulation
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      docs.select(col("lang"), col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("n_tokens"))
        .withColumn("taken_before", coalesce(
          sum(col("n_tokens")).over(Window.partitionBy("lang")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .join(budgets, Seq("lang"))
        .filter(col("taken_before") < col("allocated_tokens"))
        .select("lang", "doc_id", "n_tokens", "taken_before")
    }
    assert(df.collect().map(_.toSeq).toSet ==
      viaWindow.collect().map(_.toSeq).toSet,
      "bucketed prefix sum must equal the window formulation exactly")
  }

  test("manifest-pruned read scans only surviving files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-").toString
    val t = graft.table.SnapshotTable.at(root)
    t.createOrReplace((1 to 1000).map(i => (i.toLong, i % 10))
      .toDF("id", "p").repartitionByRange(8, col("id")))
    val (kept, total) = t.pruneCounts(col("id") <= 100L)
    assert(kept < total, s"range layout must prune ($kept/$total)")
    // the pruned read stays correct (the census above proves the scan
    // set shrank; correctness of the kept slice is the other half)
    val df = t.readWhere(spark, col("id") <= 100L)
    assert(df.count() == 100)
  }

  test("v3 lineage read joins the file map BROADCAST — no extra shuffle") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-v3-").toString
    val t = graft.table.SnapshotTable.at(root)
    t.createOrReplace((1 to 2000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), properties = Map("format-version" -> "3"))
    val plan = t.readLineage(spark).queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"the (path → firstRowId) map must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      "inheritance must never shuffle the data side:\n" + plan.take(2000))
  }

  test("v3 DV-masked read is a broadcast bitmap probe — no anti-join") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-dv-").toString
    val t = graft.table.SnapshotTable.at(root)
    t.createOrReplace((1 to 2000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), properties = Map("format-version" -> "3"))
    t.deleteWherePositional(spark, col("id") % 100 === 0L)
    val df = t.read(spark)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("LeftAnti"),
      s"DV masking must not plan a positional anti-join:\n${plan.take(2000)}")
    assert(plan.contains("dv_mask_contains") || plan.contains("DvMaskContains"),
      s"the bitmap probe must appear in the plan:\n${plan.take(2000)}")
    // r14 optimization: the probe is a broadcast-MAP lookup, not a
    // broadcast JOIN — a join materializes the matched vector blob into
    // every probed row (UnsafeRow.getBinary copies the whole array per
    // access: O(rows × vector bytes) memcpy, measured 8.8 s vs 0.24 s at
    // sf0.1). No join node of any kind may appear in the masked read.
    assert(!plan.contains("Join"),
      s"DV masking must probe a broadcast map, never join:\n${plan.take(2000)}")
    assert(df.count() == 1980)
  }

  test("DV debt past the broadcast bound reads via distributed anti-join") {
    // r15 scale envelope: the broadcast map is O(total pending DV bytes)
    // on the driver AND every executor — past the configurable bound the
    // read must serve the same rows through a distributed (path, pos)
    // anti-join instead (vectors explode executor-side; nothing
    // table-sized is ever collected). Forcing the bound to 1 byte takes
    // the fallback on a small fixture; rows must match the fast path.
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-dvfb-").toString
    val t = graft.table.SnapshotTable.at(root)
    t.createOrReplace((1 to 2000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), properties = Map("format-version" -> "3"))
    t.deleteWherePositional(spark, col("id") % 100 === 0L)
    val fast = t.read(spark).orderBy("id").collect()
    spark.conf.set("graft.read.dv.broadcast-max-bytes", "1")
    try {
      val df = t.read(spark)
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("LeftAnti"),
        s"past the bound the mask must become an anti-join:\n${plan.take(2000)}")
      assert(!plan.contains("dv_mask_contains"),
        "the broadcast probe must not also run on the fallback path")
      assert(df.orderBy("id").collect().toSeq == fast.toSeq,
        "fallback and broadcast paths must read identical rows")
    } finally spark.conf.unset("graft.read.dv.broadcast-max-bytes")
  }

  private def fileScans(plan: String): Int =
    "FileScan parquet".r.findAllMatchIn(plan).size

  test("a partitioned table after many commits reads with ONE scan, " +
      "planned from the manifest") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-1scan-").toString
    val t = graft.table.SnapshotTable.at(root)
    def batch(k: Int) = (k * 100 until k * 100 + 50)
      .map(i => (i.toLong, i % 5)).toDF("id", "p")
    t.createOrReplace(batch(0), Seq("p"))
    (1 to 5).foreach(k => t.append(spark, batch(k)))
    val df = t.read(spark)
    val plan = df.queryExecution.executedPlan.toString()
    assert(fileScans(plan) == 1,
      s"six commits must read as one scan:\n${plan.take(3000)}")
    assert(!plan.contains("InMemoryFileIndex") &&
      plan.contains("ManifestFileIndex"),
      s"the scan must be planned from the manifest:\n${plan.take(3000)}")
    assert(!plan.contains("Union"), plan.take(3000))
    assert(df.count() == 300L)
  }

  test("a MoR read with deletes pending from three commits plans at most " +
      "three scans") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-mor-").toString
    val t = graft.table.SnapshotTable.at(root)
    t.createOrReplace((1 to 300).map(i => (i.toLong, i % 3, s"v$i"))
      .toDF("id", "p", "s"), Seq("p"))
    (1 to 3).foreach { k =>
      t.mergeMoR(spark,
        Seq((k.toLong, k % 3, s"u$k", "U"), (1000L + k, 0, s"i$k", "I"))
          .toDF("id", "p", "s", "op"),
        Seq("id"), keepDeletes = false)
    }
    val m = t.currentManifest
    assert(m.deleteFiles.map(_.version).distinct.size == 3,
      "deletes must be pending from three commits")
    val df = t.read(spark)
    val plan = df.queryExecution.executedPlan.toString()
    val n = fileScans(plan)
    assert(n <= 3, s"MoR read planned $n scans:\n${plan.take(4000)}")
    assert(!plan.contains("InMemoryFileIndex"), plan.take(4000))
    assert(df.count() == 303L)
    assert(df.filter(col("id") <= 3L).orderBy("id").select("s")
      .as[String].collect().toSeq == Seq("u1", "u2", "u3"))
  }

  /** Every scan in `plan` (cached subplans inlined) as (input files,
    * sits on the probe side of a LeftSemi join), plus each LeftSemi
    * join's build-side input files.
    */
  private def semiScans(root: org.apache.spark.sql.catalyst.plans.logical
      .LogicalPlan): (Seq[(Seq[String], Boolean)], Seq[Seq[String]]) = {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    def inline(p: LogicalPlan): LogicalPlan = p.transformDown {
      case m: InMemoryRelation => inline(m.cacheBuilder.logicalPlan)
    }
    val plan = inline(root)
    def scanned(r: LogicalRelation): Seq[String] = r.relation match {
      case h: HadoopFsRelation => h.location.inputFiles.toSeq
      case _ => Nil
    }
    def files(p: LogicalPlan): Seq[String] =
      p.collect { case r: LogicalRelation => scanned(r) }.flatten
    def walk(p: LogicalPlan, under: Boolean): Seq[(Seq[String], Boolean)] =
      p match {
        case j: Join if j.joinType == LeftSemi =>
          walk(j.left, true) ++ walk(j.right, under)
        case r: LogicalRelation => Seq((scanned(r), under))
        case other => other.children.flatMap(walk(_, under))
      }
    (walk(plan, false), plan.collect {
      case j: Join if j.joinType == LeftSemi => files(j.right)
    })
  }

  test("a MoR changelog step reads its dirty files only through the new " +
      "delete keys, with no fingerprint pre-pass") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape-morcl-").toString
    val t = graft.table.SnapshotTable.at(root)
    t.createOrReplace((1 to 300).map(i => (i.toLong, i % 3, s"v$i"))
      .toDF("id", "p", "s"), Seq("p"))
    t.mergeMoR(spark,
      Seq((5L, 2, "u5", "U"), (1000L, 0, "i", "I"), (7L, 1, "x", "D"))
        .toDF("id", "p", "s", "op"),
      Seq("id"), keepDeletes = false)
    val dirty = t.manifest(1L).files.map(_.path)
    val newDeletes = t.manifest(2L).deleteFiles.map(_.path)
    assert(newDeletes.nonEmpty)
    for (keys <- Seq(Seq("id"), Nil)) {
      val cl = t.readChangelog(spark, 1L, 2L, keys)
      val plan = cl.queryExecution.optimizedPlan
      assert(!plan.toString.contains("xxhash64"),
        s"a MoR step must not plan the fingerprint pre-pass:\n$plan")
      val (scans, builds) = semiScans(plan)
      val dirtyScans = scans.filter(_._1.exists(f => dirty.exists(f.endsWith)))
      // (the keyless legs share one cached net, inlined once per leg)
      assert(dirtyScans.size >= 2 && dirtyScans.forall(_._2),
        s"both boundaries' dirty spans must sit under a LeftSemi join:\n$plan")
      assert(builds.nonEmpty && builds.forall(fs => fs.nonEmpty &&
        fs.forall(f => newDeletes.exists(f.endsWith))),
        s"each LeftSemi must build on the new delete files' keys:\n$plan")
      if (keys.nonEmpty) {
        // the net and the key window share ONE shuffle by the keys; the
        // delete keys broadcast raw (a semi-join needs no distinct)
        val initial = cl.queryExecution.executedPlan.toString
        val shuffles = "(?<!Broadcast)Exchange ".r.findAllIn(initial).size
        assert(shuffles == 1, s"keyed MoR step planned $shuffles shuffles:\n$initial")
      }
      // 5 updated (two images or two legs), 1000 inserted, 7 deleted
      assert(cl.count() == 4L)
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.Bucket
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, Similarity}

/** Hash-internal operators verified against brute-force baselines (these
  * have no SQL oracle): MinHash-LSH vs exact Jaccard, SimHash on known
  * near-identicals, IVF recall vs exact top-k, and the murmur3 bucket
  * cross-checked against Spark's own Murmur3_x86_32.
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(sf() + "/documents.parquet").cache()

  test("fused tokens() ≡ replace-trim-split on every edge class + corpus") {
    // r15 proof artifact for the tokens() regex fusion: the old
    // normalize-then-split formulation is the executable specification;
    // the fused single-split must equal it ROW-FOR-ROW over (a) an
    // adversarial edge corpus — empty, NULL, all-separator, leading/
    // trailing/multi-separator runs, unicode, digits — and (b) every
    // real document of the test corpus (the generator's alphabet).
    val spec = split(
      trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
    val edges = Seq(
      "", "   ", "...", "a", "a b", " a  b ", "..a..b..", "A.B",
      "héllo wörld", "ÀÉÎ", "a1b2", "123", "\n\t a \n b \t", "日本語 text",
      "x", "-", "a-b-c", "ALL CAPS!", "mixed_Case-42", null
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val corpus = docs.select($"doc_id", $"text").unionByName(edges)
    val diff = corpus.select($"doc_id", spec.as("a"),
        graft.functions.TextFunctions.tokens($"text").as("b"))
      .filter(!($"a" <=> $"b"))
    assert(diff.isEmpty,
      s"fused tokens diverged from the spec:\n${diff.take(5).mkString("\n")}")
  }

  test("minhash-LSH finds every high-jaccard pair that brute force finds") {
    // brute-force exact pairs at threshold 0.7 (no blocking: 500 docs)
    val sh = docs.select($"doc_id".as("id"),
      array_distinct(graft.functions.TextFunctions.wordShingles($"text", 3)).as("s"))
    val exact = sh.as("a").join(sh.as("b"), $"a.id" < $"b.id")
      .withColumn("j", graft.functions.TextFunctions.jaccard($"a.s", $"b.s"))
      .filter($"j" >= 0.7)
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH verified pairs are exact-jaccard-filtered, so lsh ⊆ exact always;
    // recall at j>=0.7 with 16 bands × 4 rows should be essentially total
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} pairs")
    }
  }

  test("edit-distance near-dup finds planted edits, caps degenerate blocks") {
    val base = "x" * 80 + " the quick brown fox jumps over the lazy dog"
    val planted = Seq(
      (1L, base),
      (2L, base.replace("lazy", "hazy")),       // lev 1, same 64-prefix
      (3L, base + " with twenty extra trailing characters!"), // lev > 8
      (4L, "completely different prefix " + base)) // different block
      .toDF("doc_id", "text")
    val pairs = Dedup.editDistanceNearDups(planted, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // a degenerate block (every prefix identical) is dropped by the cap,
    // not exploded into a quadratic join
    val degenerate = (1 to 50).map(i => (i.toLong, base + s" tail$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.editDistanceNearDups(degenerate, "doc_id", "text",
      maxBucket = 10)
    assert(capped.count() == 0)
  }

  test("banded thresholded Levenshtein ≡ plain DP under the distance filter") {
    // the operator's per-pair engine is levenshtein(l, r, threshold) —
    // banded O(len·maxDist) with early abandon (-1 past the bound). Pin
    // its equivalence to the plain O(len²) DP on random string pairs:
    // same kept set, same distances, for every pair with plain lev <= 8
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) =
      (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    def mutate(s: String) = {
      val i = rnd.nextInt(s.length)
      rnd.nextInt(3) match {
        case 0 => s.updated(i, ('a' + rnd.nextInt(4)).toChar) // sub
        case 1 => s.take(i) + s.drop(i + 1)                   // del
        case _ => s.take(i) + ('a' + rnd.nextInt(4)).toChar + s.drop(i) // ins
      }
    }
    val pairs = (1 to 200).map { i =>
      val a = randStr(30 + rnd.nextInt(60))
      val b = if (i % 2 == 0) (1 to rnd.nextInt(14)).foldLeft(a)((s, _) => mutate(s))
              else randStr(30 + rnd.nextInt(60))
      (a, b)
    }.toDF("a", "b")
    val maxDist = 8
    val out = pairs.select(
        levenshtein($"a", $"b").as("plain"),
        levenshtein($"a", $"b", maxDist + 1).as("banded"))
      .as[(Int, Int)].collect()
    out.foreach { case (plain, banded) =>
      if (plain <= maxDist) assert(banded == plain,
        s"banded $banded != plain $plain within the bound")
      else assert(banded == -1 || banded > maxDist,
        s"banded $banded leaked a pair with plain $plain")
    }
    assert(out.exists(_._1 <= maxDist) && out.exists(_._1 > maxDist))
  }

  test("simhash of a near-identical document has small hamming distance") {
    val base = docs.limit(1).select($"text").as[String].head()
    val edited = base + " extra token"
    val two = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(two, "doc_id", "text", maxHamming = 12)
    assert(pairs.count() == 1)
    // and unrelated docs are far apart
    val far = Dedup.simhashNearDups(docs.limit(50), "doc_id", "text",
      maxHamming = 3)
    val exact = Dedup.exact(docs.limit(50), "doc_id", "text")
      .filter($"n_dups" > 1).count()
    assert(far.count() <= 25 || exact > 0)
  }

  test("IVF ANN achieves reasonable recall vs exact top-k") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // sampled centroids (no training)
    val sampled = Similarity.ivfTopK(emb, emb.filter($"vec_id" % 50 === 0),
        queries, "vec_id", "embedding", 10, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallSampled = (exact intersect sampled).size.toDouble / exact.size
    assert(recallSampled >= 0.5, s"sampled-centroid IVF recall@10 = $recallSampled")
    // trained coarse quantizer should do at least as well (usually better)
    val trained = Similarity.ivfTopK(emb,
        Similarity.trainCentroids(emb, "vec_id", "embedding", k = 16, iters = 2),
        queries, "vec_id", "embedding", 10, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallTrained = (exact intersect trained).size.toDouble / exact.size
    assert(recallTrained >= 0.5, s"trained IVF recall@10 = $recallTrained")
    info(s"recall sampled=$recallSampled trained=$recallTrained")
  }

  test("PQ ANN (ADC shortlist + exact re-rank) clears the recall bar") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val books = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    assert(books.select("block").distinct().count() == 8)
    assert(books.groupBy("block").count().collect()
      .forall(_.getLong(1) <= 16), "at most k codewords per block")
    val pq = Similarity.pqTopK(emb, books, queries, "vec_id", "embedding",
        k = 10, m = 8, shortlist = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@10 = $recall")
    info(s"PQ recall@10 = $recall")
    // codes really are m small ints — the index costs m bytes a vector
    val codes = Similarity.encodePq(emb, books, "vec_id", "embedding", m = 8)
    val row = codes.select("codes").head.getSeq[Int](0)
    assert(row.length == 8 && row.forall(c => c >= 0 && c < 16))
    assert(codes.count() == emb.count())
  }

  test("PQ training refuses an empty corpus and ragged dimensions") {
    def train(vs: Seq[(Long, Array[Float])]) =
      Similarity.trainPqCodebooks(vs.toDF("id", "embedding"), "id",
        "embedding", m = 2, k = 2, iters = 1)
    val empty = intercept[IllegalArgumentException] { train(Nil) }
    assert(empty.getMessage.contains("non-empty corpus"), empty.getMessage)
    // all-zero vectors normalize away: as empty as no rows at all
    assert(intercept[IllegalArgumentException] {
      train(Seq((1L, Array(0f, 0f))))
    }.getMessage.contains("non-empty corpus"))
    val ragged = intercept[IllegalArgumentException] {
      train(Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f, 0f, 1f))))
    }
    assert(ragged.getMessage.contains("one vector dimension"),
      ragged.getMessage)
  }

  test("SQ8 ANN: near-lossless recall, byte-per-dim codes, clamped " +
      "encode, dimension mismatch throws") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.sq8TopK(emb, queries, "vec_id", "embedding",
        k = 10, shortlist = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect sq).size.toDouble / exact.size
    // 8-bit scalar quantization is nearly lossless — the q157 contract
    // bar is 0.9; the measured level here pins the margin
    assert(recall >= 0.95, s"SQ8 recall@10 = $recall")
    info(s"SQ8 recall@10 = $recall")
    // the index is REAL binary: one byte per dimension
    val bounds = Similarity.sq8Bounds(emb, "embedding")
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val codes = Similarity.sq8Encode(emb, "vec_id", "embedding", bounds)
    val row = codes.select("codes").head.getAs[Array[Byte]](0)
    assert(row.length == dim)
    assert(codes.count() == emb.count())
    // encode clamps out-of-bounds values and zeroes constant dims
    import graft.functions.VectorFunctions.{sq8ByteDot, sq8Encode => enc}
    val one = Seq((Array(-5.0f, 0.5f, 9.9f, 3.3f),
        Array(0.0f, 0.0f, 0.0f, 3.3f), Array(0.01f, 0.001f, 0.02f, 0.0f)))
      .toDF("v", "lo", "st")
    val got = one.select(enc($"v", $"lo", $"st").as("c"))
      .head.getAs[Array[Byte]](0).map(_ & 0xFF)
    assert(got.toSeq == Seq(0, 255, 255, 0),
      "below-lo clamps to 0, above-hi to 255, zero-step dims code 0")
    // the asymmetric kernel ranks exactly like the dequantized dot
    val probe = one.select(sq8ByteDot(
      typedLit(Array(1.0f, 2.0f, 0.5f, 4.0f)),
      enc($"v", $"lo", $"st")).as("d")).head.getDouble(0)
    assert(probe == 1.0 * 0 + 2.0 * 255 + 0.5 * 255 + 4.0 * 0)
    val bad = Seq((Array(1.0f, 2.0f), Array(0.0f), Array(0.1f)))
      .toDF("v", "lo", "st")
    intercept[Exception] {
      bad.select(enc($"v", $"lo", $"st")).collect()
    }
  }

  test("topKByScore equals the sort-based top-k, ties deterministic, " +
      "across many partitions") {
    val rnd = new scala.util.Random(7)
    // duplicate scores force tie-breaking; 64 input partitions force
    // partial-buffer merges across map tasks
    val rows = (1L to 5000L).map(id => (id % 97, rnd.nextInt(50).toDouble, id))
    val df = rows.toDF("g", "s", "id").repartition(64)
    val got = df.groupBy($"g")
      .agg(topKByScore($"s", $"id", 20).as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", $"pos", $"col.score", $"col.id")
      .as[(Long, Int, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq)
      .toMap
    val want = rows.groupBy(_._1).view.mapValues(
      _.map(r => (r._2, r._3)).sortBy { case (s, id) => (-s, id) }.take(20)
        .toSeq).toMap
    assert(got == want, "bounded heap must equal sort-take top-k exactly")
  }

  test("truncatedTopK == bruteForceTopK when the prefix is the whole " +
      "vector; a real prefix still clears the recall bar") {
    val rnd = new scala.util.Random(7)
    val dims = 32
    val emb = (1L to 300L).map(id =>
        (id, Array.fill(dims)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" % 10 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb,
      "vec_id", "embedding", k = 10)
    // full-width prefix: the shortlist score IS the exact cosine, so
    // the output must match the flat scan row for row
    val full = Similarity.truncatedTopK(emb, queries,
      "vec_id", "embedding", k = 10, prefixDims = dims, shortlist = 50)
    assert(full.orderBy("query_id", "rank").collect().toSeq ==
      exact.orderBy("query_id", "rank").collect().toSeq,
      "full-prefix truncated scan must equal the exact flat scan")
    // a real (8 of 32) prefix with a generous shortlist keeps recall
    val ann = Similarity.truncatedTopK(emb, queries,
      "vec_id", "embedding", k = 10, prefixDims = 8, shortlist = 100)
    val nHit = ann.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count()
    val nExact = exact.count()
    assert(nHit.toDouble / nExact >= 0.5,
      s"prefix-8 recall ${nHit.toDouble / nExact} below the 0.5 bar")
    // string ids refuse at planning (the heap casts to long)
    intercept[IllegalArgumentException] {
      Similarity.truncatedTopK(
        emb.withColumn("vec_id", $"vec_id".cast("string")), queries,
        "vec_id", "embedding", k = 10)
    }
  }

  test("IVFADC (cell routing + PQ ADC + exact re-rank) clears the " +
      "recall bar; probes only its cells") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 2)
    val books = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    val ann = Similarity.ivfPqTopK(emb, cents, books, queries,
        "vec_id", "embedding", k = 10, m = 8, nProbe = 8, shortlist = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVFADC recall@10 = $recall")
    info(s"IVFADC recall@10 = $recall")
    // cell pruning is REAL: nProbe=1 returns only neighbors sharing the
    // query's own cell (subset of the flat-ADC result, strictly cheaper)
    val one = Similarity.ivfPqTopK(emb, cents, books,
        queries.limit(4), "vec_id", "embedding",
        k = 10, m = 8, nProbe = 1, shortlist = 50)
    assert(one.count() <= 40)
  }

  test("embedding near-dup self-join finds the planted duplicate") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet").limit(50)
    val dup = emb.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(9999L))
    val pairs = Dedup.embeddingNearDups(emb.unionByName(dup),
      "vec_id", "embedding", threshold = 0.999, signBits = 0)
    // and the scalable LSH mode finds the planted duplicate too (identical
    // vectors share every hyperplane bucket)
    val lshPairs = Dedup.embeddingNearDups(emb.unionByName(dup),
      "vec_id", "embedding", threshold = 0.999)
    assert(lshPairs.filter($"id_a" === 0 && $"id_b" === 9999).count() == 1)
    assert(pairs.filter($"id_a" === 0 && $"id_b" === 9999).count() == 1)
  }

  test("semanticDedup keeps one representative per planted chain") {
    import graft.operators.Pipelines
    val emb = spark.read.parquet(sf() + "/embeddings.parquet").limit(50)
    // plant two exact copies of vector 0: {0, 9998, 9999} must form ONE
    // component kept by id 0, whatever else the corpus pairs up
    val dups = emb.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(9998L))
      .unionByName(emb.filter($"vec_id" === 0)
        .withColumn("vec_id", lit(9999L)))
    val sweep = Pipelines.semanticDedup(emb.unionByName(dups),
      "vec_id", "embedding", threshold = 0.999)
    assert(sweep.count() == 52, "one row per input id")
    val cluster = sweep.filter($"vec_id".isin(0L, 9998L, 9999L))
      .select("vec_id", "component", "kept")
      .as[(Long, Long, Boolean)].collect()
      .map { case (a, b, c) => a -> (b, c) }.toMap
    assert(cluster(0L) == (0L, true))
    assert(cluster(9998L) == (0L, false) && cluster(9999L) == (0L, false))
    // untouched singletons keep themselves
    val singles = sweep.filter($"component" === $"vec_id")
    assert(singles.filter(!$"kept").count() == 0)
  }

  test("codegen'd minhash signature equals the HOF specification") {
    import graft.functions.TextFunctions
    val sh = docs.select($"doc_id",
      TextFunctions.shingleHashes($"text", 3).as("h"))
    val both = sh.select($"doc_id",
      TextFunctions.minhashSignature($"h", 64).as("fast"),
      TextFunctions.minhashSignatureHof($"h", 64).as("spec"))
    assert(both.filter(expr("fast <> spec")).count() == 0)
    // empty array → sentinel in every slot
    val empty = Seq(Seq.empty[Long]).toDF("h")
      .select(TextFunctions.minhashSignature($"h", 4).as("s"))
      .as[Seq[Long]].head()
    assert(empty == Seq.fill(4)(TextFunctions.MinHashPrime))
  }

  test("codegen'd hyperplane keys equal the HOF specification per seed") {
    import graft.functions.VectorFunctions.hyperplaneKeysNative
    import graft.operators.Similarity.hyperplaneKey
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("id", "v")
    val (bits, tables) = (4, 48)
    val both = vecs.select($"id",
      hyperplaneKeysNative($"v", bits, tables).as("fast"),
      array((0 until tables).map(t => hyperplaneKey($"v", bits, seed = t)): _*).as("spec"))
    assert(both.filter(expr("fast <> spec")).count() == 0)
  }

  test("murmur3 bucket matches Spark's Murmur3_x86_32 and stays in range") {
    val rnd = new scala.util.Random(42)
    (0 until 1000).map(_ => rnd.nextLong()).foreach { v =>
      assert(Bucket.murmur3Long(v) ==
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 0),
        s"murmur mismatch for $v")
      val b = Bucket.bucket(v, 8)
      assert(b >= 0 && b < 8)
    }
  }

  test("icebergBucket expression equals the static function under codegen") {
    val out = spark.range(1000)
      .select($"id", icebergBucket($"id", 16).as("b"))
      .as[(Long, Int)].collect()
    out.foreach { case (id, b) => assert(b == Bucket.bucket(id, 16)) }
  }

  test("bucket hashes match the published Iceberg spec Appendix-B vectors") {
    // reference values straight from the Iceberg table spec's Appendix B
    // examples (public), cross-checked against guava murmur3_32(seed 0)
    assert(Bucket.murmur3Long(34L) == 2017239379)                // int/long 34
    assert(Bucket.murmur3Bytes(
      "iceberg".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      == 1210000089)                                             // string
    assert(Bucket.murmur3Bytes(new java.math.BigDecimal("14.20")
      .unscaledValue.toByteArray) == -500754589)                 // decimal(P,2)
    assert(Bucket.murmur3Long(17486L) == -653330422)             // date 2017-11-16
    assert(Bucket.murmur3Long(1510871468000000L) == -2047944441) // ts micros
    // the byte hash IS the long hash on the long's little-endian bytes
    val rnd = new scala.util.Random(7)
    (0 until 200).map(_ => rnd.nextLong()).foreach { v =>
      val le = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
      assert(Bucket.murmur3Bytes(le) == Bucket.murmur3Long(v))
    }
    // expression path (whole-stage codegen) for every non-long source
    val n = 32
    def expect(h: Int) = (h & Int.MaxValue) % n
    val got = spark.sql(
      "SELECT CAST('iceberg' AS STRING) s, DATE'2017-11-16' d, " +
        "TIMESTAMP_NTZ'2017-11-16 22:31:08' tn, " +
        "CAST(14.20 AS DECIMAL(6,2)) dec, CAST(34 AS INT) i")
      .select(icebergBucket(col("s"), n), icebergBucket(col("d"), n),
        icebergBucket(col("tn"), n), icebergBucket(col("dec"), n),
        icebergBucket(col("i"), n)).head
    assert(got.getInt(0) == expect(1210000089))
    assert(got.getInt(1) == expect(-653330422))
    assert(got.getInt(2) == expect(-2047944441))
    assert(got.getInt(3) == expect(-500754589))
    assert(got.getInt(4) == expect(2017239379))
    // unsupported sources fail analysis loudly, never hash garbage
    val e = intercept[Exception] {
      spark.sql("SELECT CAST(1.5 AS DOUBLE) x")
        .select(icebergBucket(col("x"), n)).head
    }
    assert(e.getMessage.toLowerCase.contains("iceberg_bucket") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("vectorDot matches a scala-side dot product") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet").limit(20)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val df = emb.toSeq.toDF("vec_id", "embedding")
    val got = df.as("a").crossJoin(df.as("b"))
      .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"),
        vectorDot($"a.embedding", $"b.embedding").as("d"))
      .as[(Long, Long, Double)].collect()
    val byId = emb.toMap
    got.foreach { case (ia, ib, d) =>
      val expected = byId(ia).zip(byId(ib))
        .foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      assert(math.abs(d - expected) < 1e-9)
    }
  }

  test("dedupAgainstReference equals the plain anti-join at any fpp") {
    val ref = (1 to 300).map(i => s"ref text $i").toDF("text")
    val incoming = (1 to 600).map(i =>
      (i.toLong, if (i % 2 == 0) s"ref text ${i / 2}" else s"new text $i"))
      .toDF("id", "text")
    val expected = incoming.join(ref, Seq("text"), "left_anti")
      .select("id").as[Long].collect().toSet
    for (fpp <- Seq(0.5, 0.01)) { // even a terrible filter stays exact
      val got = Dedup.dedupAgainstReference(incoming, ref, "text", fpp)
        .select("id").as[Long].collect().toSet
      assert(got == expected, s"fpp=$fpp")
    }
    assert(expected.size == 300 && expected.forall(_ % 2 == 1))
  }

  test("chunkDedup keeps first occurrence globally and reassembles") {
    val shared = "A" * 64           // exact chunk shared by docs 1 and 2
    val docs = Seq(
      (1L, shared + ("B" * 64)),    // keeps both chunks (first occurrence)
      (2L, shared + ("C" * 64)),    // loses the shared chunk
      (3L, "D" * 40),               // short single chunk, unique
      (4L, shared)                  // fully duplicated -> empty text
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, "doc_id", "text", 64)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == shared + ("B" * 64) && got(1L)._4 == 2L)
    assert(got(2L)._2 == "C" * 64,
      "doc 2 must lose the chunk doc 1 already owns")
    assert(got(2L)._3 == 2L && got(2L)._4 == 1L)
    assert(got(3L)._2 == "D" * 40)
    assert(got(4L)._2 == "" && got(4L)._4 == 0L,
      "a fully-duplicated doc survives with empty text")
  }

  test("exactSubstrRemove: planted spans keep the first corpus-ordered " +
      "occurrence, covered tokens splice out, short docs pass whole") {
    val span = (1 to 10).map(i => s"S$i").mkString(" ") // 10 tokens
    val d1 = s"alpha beta gamma delta $span omega"      // 15 tokens
    val d2 = s"one two three $span four five six seven eight nine" // 19
    val docs = Seq((1L, d1), (2L, d2), (3L, "tiny doc"), (4L, d1))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrRemove(docs, "doc_id", "text", n = 4)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1 owns every duplicated window (smallest id): untouched
    assert(out(1L) == ((1L, d1, 15L, 0L)))
    // doc 2's in-span windows (7 of them, fully inside S1..S10) are
    // non-first: exactly the planted span splices out — boundary
    // windows (different context) never match, so context survives
    assert(out(2L) ==
      ((2L, "one two three four five six seven eight nine", 19L, 10L)))
    // below the window size: nothing can match
    assert(out(3L) == ((3L, "tiny doc", 2L, 0L)))
    // an exact copy of doc 1 loses every position
    assert(out(4L) == ((4L, "", 15L, 15L)))
    // determinism across invocations
    val again = Dedup.exactSubstrRemove(docs, "doc_id", "text", n = 4)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("hardNegatives: exact other-label top-k, deterministic ranks") {
    import spark.implicits._
    // planted geometry: anchors along e1; same-label near-duplicates
    // must NEVER appear; the other-label ranking follows the cosine to
    // e1 exactly
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val rows = Seq(
      (0L, 0, v(1f, 0f)),     // anchor, label 0
      (1L, 0, v(0.99f, 0.1f)), // same label, closest of all — excluded
      (2L, 1, v(0.9f, 0.1f)),  // other label, closest admissible
      (3L, 1, v(0.5f, 0.5f)),
      (4L, 2, v(0.1f, 0.9f)),
      (5L, 1, v(0f, 0f))       // zero-norm: no defined cosine, dropped
    ).toDF("vec_id", "label", "embedding")
    val out = graft.operators.Similarity.hardNegatives(
        rows.filter(col("vec_id") === 0L), rows,
        "vec_id", "embedding", "label", k = 3)
      .orderBy("rank")
      .select("rank", "negative_id", "negative_label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((1, 2L, 1), (2, 3L, 1), (3, 4L, 2)), s"got $out")
  }
}

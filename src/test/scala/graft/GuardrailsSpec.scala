package graft

import java.io.IOException
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.{DeltaSharingClient, DeltaSharingProfile, PresignedUrlCache}
import graft.sources.testing.StubSharingServer

/** Scale guardrails: properties that keep the declared query set safe
  * at 100 TB — no cartesian products in any declared plan, native ≡
  * HOF semantics for the hot-path expressions, df-capped candidate
  * generation with uncapped exact verify, laziness of multi-pass
  * operators, bounded executor-side caches, and the pinned
  * `private[sql]` bridge contract. */
class GuardrailsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf)
  private lazy val embs = Tables.embeddings(spark, sf)

  test("native trigram_lang_id equals the HOF twin on the fixture corpus") {
    val both = docs.select(
      TextAnalysis.langIdTrigram(col("text")).as("native"),
      TextAnalysis.langIdTrigramHof(col("text")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native trigram_lang_id handles edge strings like the HOF twin") {
    import spark.implicits._
    val edge = Seq("", "a", "ab", "the quick brown fox",
      "información y documentación", "ZHONG wen PIN yin",
      "   ", "der die und das ist").toDF("text")
    val both = edge.select(
      TextAnalysis.langIdTrigram(col("text")).as("native"),
      TextAnalysis.langIdTrigramHof(col("text")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native jl_project equals the HOF fold bit-for-bit on the fixture corpus") {
    val xd = transform(col("embedding"), v => v.cast("double"))
    def fold(l: org.apache.spark.sql.Column) =
      aggregate(l, lit(0.0), (a, v) => a + v)
    val scale = sqrt(lit(3.0) / lit(16.0))
    val hof = array((0 until 16).map { j =>
      fold(zip_with(xd, sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => {
          val h = (i.cast("long") * 1000003L + lit(j.toLong) +
            715827883L) % 1000000007L
          val m = (h * h + h) % 1000000007L % 6
          when(m === 0, x).when(m === 1, -x).otherwise(lit(0.0))
        })) * scale
    }: _*)
    val both = embs.select(
      graft.functions.hashFunctions.jl_project(col("embedding"), 16)
        .as("native"), hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("JL sign matrix is decorrelated: distinct columns, ~1/3 density") {
    // the round-10 linear mix (i*7 + j*13) % 6 was 6-periodic in both
    // indices — output dims j, j+6, j+12 were bit-identical and the
    // 64→16 projection had effective rank ≤ 6; this pin fails on any
    // mix whose columns repeat or whose density drifts off Achlioptas
    val cols = (0 until 16).map { j =>
      (0 until 64).map(i => graft.functions.HashOps.jlSign(i, j) match {
        case 0 => 1; case 1 => -1; case _ => 0
      }).toVector
    }
    assert(cols.distinct.size == 16,
      "projection columns must be pairwise distinct")
    assert(cols.forall(c => c.count(_ != 0) > 0),
      "no projection column may be all-zero")
    val density = cols.flatten.count(_ != 0).toDouble / (16 * 64)
    assert(density > 0.2 && density < 0.5,
      s"nonzero density $density must stay near the Achlioptas 1/3")
    // and no column is a scalar multiple (±) of another — the rank
    // degeneracy the linear mix produced
    val normalized = cols.map(c => if (c.find(_ != 0).exists(_ < 0))
      c.map(-_) else c)
    assert(normalized.distinct.size == 16,
      "no projection column may be ±another column")
    // row-0 sign balance: without the odd offset, h = j stays below
    // the modulus for i = 0, h(h+1) is even, and the −1 sign is
    // UNREACHABLE across the whole first input dimension — every
    // projected coordinate biased along dim 0 (the round-11 flaw)
    val row0 = (0 until 16).map(j => graft.functions.HashOps.jlSign(0, j))
    assert(row0.contains(1),
      "row 0 must reach the −1 sign — input dim 0 is biased otherwise")
  }

  test("pq_rerank recall is measured and ≥ plain pq recall (ss13's claim)") {
    // exact distances over the ADC shortlist can only fix mis-ranks
    // inside the shortlist, never lose a hit ADC already had — the
    // report row turns the operator's claim into a measurement
    val report = Similarity.annRecallReportAll(
      embs, embs.filter(col("vec_id") < 3), k = 5)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(report.contains("pq_rerank"), "pq_rerank row missing from ss12")
    assert(report("pq_rerank") >= report("pq"),
      s"rerank ${report("pq_rerank")} < pq ${report("pq")}")
  }

  test("mrl recall: the full-dim row is the truth vs itself — 1000 exactly") {
    val rows = graft.operators.VectorStats.mrlRecall(
      embs, embs.filter(col("vec_id") < 3), dims = Seq(16, 64), k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(rows(64L)._2 == 1000L, "full-dim recall must be perfect")
    assert(rows(16L)._1 == 15L, "truth is k*queries")
    assert(rows(16L)._2 <= 1000L)
  }

  test("knn graph mega-list cap engages without breaking score exactness") {
    // maxList far below the fixture's list sizes forces the census
    // cap branch; edges may be fewer but every emitted score must
    // still be the exact cosine and ranks stay dense
    val capped = graft.operators.Similarity.knnGraph(embs, k = 3,
      numCentroids = 16, nprobe = 2, maxList = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(capped.nonEmpty)
    val exact = Similarity.cosinePairs(embs, threshold = -2.0).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)) -> r.getDouble(2),
        (r.getLong(1), r.getLong(0)) -> r.getDouble(2))).toMap
    capped.foreach { case (q, _, n, sc) => assert(exact((q, n)) == sc) }
    capped.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
  }

  test("knn graph census + forced-cap recall: the cap's cost is a number") {
    val maxList = 8
    // census rows must equal the trained home-assignment list sizes
    // (recomputed through the public kmeans path), with capped /
    // rows_dropped the exact arithmetic consequences
    val census = Similarity.knnGraphCensus(embs, numCentroids = 16,
      maxList = maxList)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3)))
    val sizes = graft.operators.VectorStats.kmeansAssign(embs, 16, 2)
      .groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(census.map(c => c._1 -> c._2).toMap == sizes)
    census.foreach { case (_, size, capped, dropped) =>
      assert(capped == (size > maxList))
      assert(dropped == math.max(size - maxList, 0L))
    }
    assert(census.exists(_._3),
      "fixture must engage the cap for this pin to mean anything")
    // recall: the capped candidate set is a subset of the uncapped
    // one (same centroids, same probes), so recall can only drop —
    // and BOTH are measured, turning the silent loss into a number
    val truth = Similarity.bruteForceTopK(embs, embs, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(cap: Int): Double = {
      val g = Similarity.knnGraph(embs, k = 3, numCentroids = 16,
        nprobe = 2, maxList = cap).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      g.count(truth.contains).toDouble / truth.size
    }
    val rCap = recall(maxList)
    val rFull = recall(Int.MaxValue)
    assert(rCap <= rFull + 1e-12, "a cap must never ADD recall")
    assert(rCap > 0.05, s"forced-cap recall $rCap collapsed to noise")
    info(f"knn-graph recall@3: capped($maxList)=$rCap%.3f uncapped=$rFull%.3f")
  }

  test("hammingBlockCensus names the adversarial pile-up and its drops exactly") {
    import spark.implicits._
    // the dd4 worst case: 64 hashes colliding in block 0, constant in
    // blocks 2 and 3 — block 0 rescues via block-1 bits (zero drops),
    // blocks 2/3 cannot (constant sub-key) and drop 64-8 each
    val hashed = (0L until 64L).map(i => (i, (i << 15) | 7L))
      .toDF("doc_id", "sh")
    val census = Dedup.hammingBlockCensus(hashed, maxBucket = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(census == Set((0, 7L, 64L, 0L), (2, 0L, 64L, 56L),
      (3, 0L, 64L, 56L)))
    // disengaged cap → empty census (the common case costs ~nothing)
    assert(Dedup.hammingBlockCensus(hashed, maxBucket = 1 << 16)
      .isEmpty)
  }

  test("dd5's LSH routing never invents pairs and scores match brute exactly") {
    val brute = Similarity.cosinePairs(embs, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshCosinePairs(embs, threshold = 0.4,
      nBits = 4, tables = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.keySet.subsetOf(brute.keySet))
    lsh.foreach { case (pair, score) => assert(brute(pair) == score) }
    if (brute.nonEmpty)
      assert(lsh.size.toDouble / brute.size > 0.3,
        s"LSH recall ${lsh.size}/${brute.size} too low for the declared params")
  }

  test("jaccard df-cap bounds hot-shingle candidates, verify stays exact") {
    import spark.implicits._
    val boiler = "terms and conditions apply to all offers made today"
    val rare = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = (Seq((1L, s"$rare $boiler"), (2L, s"$rare $boiler")) ++
      (3L to 12L).map(i => (i, boiler))).toDF("doc_id", "text")
    // boilerplate shingles have df=12 > 5 → excluded from candidate
    // generation; the (1,2) pair is still found via its rare shingles
    // and its common/union counts cover ALL shingles (uncapped verify)
    val capped = Dedup.jaccardPairs(corpus, k = 3, pct = 85,
      maxShingleDf = 5).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val row = capped.head
    val fullShingles = corpus.filter(col("doc_id") === 1L)
      .select(size(Dedup.shingles(col("text"), 3))).collect()(0).getInt(0)
    assert(row.getLong(2) == fullShingles, "verify must count capped shingles too")
    assert(row.getLong(2) == row.getLong(3), "identical docs → jaccard 1")
    // with the cap lifted, the boilerplate-only pairs reappear: the cap
    // is what keeps a hot shingle from emitting d^2 candidate rows
    val uncapped = Dedup.jaccardPairs(corpus, k = 3, pct = 85,
      maxShingleDf = Int.MaxValue).collect()
    assert(uncapped.length == 1 + 45) // (1,2) + C(10,2) boilerplate pairs
  }

  test("df-cut blind spot: clusters above the cap fall to minhash") {
    import spark.implicits._
    // 8 lightly-varied copies of one document: every SHARED shingle
    // appears in all 8 docs > cap 5, so the df-capped jaccard sees no
    // candidates — the documented mega-cluster blind spot...
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = (1L to 8L).map(i => (i, s"$base variant$i")).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(corpus, k = 3, pct = 80, maxShingleDf = 5)
    assert(capped.count() == 0)
    // ...while minhash banding is df-insensitive and enumerates the
    // cluster's pairs, which resolveClusters then collapses to one
    // representative
    val pairs = Dedup.minhashPairs(corpus, k = 3, pct = 80)
    assert(pairs.count() > 0)
    val clusters = Dedup.resolveClusters(pairs).collect()
    assert(clusters.forall(_.getLong(1) == 1L),
      "all near-identical copies should share cluster_id = min doc_id")
  }

  test("dd4 block buckets stay ≤ maxBucket under adversarial pile-ups") {
    import spark.implicits._
    // 64 distinct hashes that collide in block 0 (low 15 bits all 7)
    // AND are constant in blocks 2 and 3 — the worst case: block 2's
    // next-block sub-key (block 3) cannot spread them, so only the
    // hard cap bounds that bucket
    val hashes = (0L until 64L).map(i => (i << 15) | 7L).toDF("sh")
    val refined = Dedup.simhashBlocks(hashes, maxBucket = 8)
    val worst = refined.groupBy("bid", "bkey", "sub")
      .count().agg(max("count")).collect()(0).getLong(0)
    assert(worst <= 8, s"refined bucket of $worst rows escaped the cap")
    // block 0's pile-up spreads by block-1 bits WITHOUT dropping rows
    // (the recall-preserving path), block 1 was never oversized
    assert(refined.filter(col("bid") === 0).count() == 64)
    assert(refined.filter(col("bid") === 1).count() == 64)
    // blocks 2/3 fall to the hard cap: a bounded deterministic prefix
    assert(refined.filter(col("bid") === 2).count() == 8)
    assert(refined.filter(col("bid") === 3).count() == 8)
    // determinism: the same input yields the same capped prefix
    val again = Dedup.simhashBlocks(hashes, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(again == refined.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet)
  }

  test("dd4 identical-document pile-up: one row in the block join, full pair output") {
    import spark.implicits._
    // 40 byte-identical docs + 2 distinct near-ish docs: the block
    // self-join runs over DISTINCT hashes (3 rows), while the declared
    // output still carries all C(40,2) distance-0 pairs
    val dup = "the quick brown fox jumps over the lazy dog"
    val corpus = ((0L until 40L).map(i => (i, dup)) ++
      Seq((100L, "alpha beta gamma delta"), (101L, "epsilon zeta eta theta")))
      .toDF("doc_id", "text")
    val distinctHashes = corpus
      .select(Dedup.simhash60(col("text")).as("sh")).distinct().count()
    assert(distinctHashes == 3)
    // even with maxBucket = 1 (every multi-hash bucket capped) the
    // identical-doc pairs survive: distance-0 recovery never depends
    // on the block join
    val pairs = Dedup.simhashPairs(corpus, maxDist = 3, maxBucket = 1)
      .collect()
    val zeroDist = pairs.filter(_.getInt(4) == 0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zeroDist.size == 40 * 39 / 2)
    assert(zeroDist.forall { case (a, b) => a < b && b < 40L })
  }

  test("dd4 capped output is a subset of uncapped; default cap changes nothing") {
    val uncapped = Dedup.simhashPairs(docs, maxDist = 3,
      maxBucket = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = Dedup.simhashPairs(docs, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default == uncapped,
      "default maxBucket must not trigger at test scale (oracle equivalence)")
    val tight = Dedup.simhashPairs(docs, maxDist = 3, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(uncapped), "the cap must never invent pairs")
  }

  test("minhash band guard: identical pile-ups survive any cap, no invented pairs") {
    import spark.implicits._
    // 30 byte-identical docs (one band bucket of 30 per band) + one
    // genuine near-dup pair in its own buckets
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = ((0L until 30L).map(i => (i, dup)) ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashPairs(corpus, pct = 70, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // maxBucket=2 caps every identical-doc band bucket — but the
    // identical-signature rescue path keeps ALL C(30,2) dup pairs,
    // and the near-dup pair's buckets are under the cap: identical
    // output through a radically different candidate route
    val capped = Dedup.minhashPairs(corpus, pct = 70, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
    assert(uncapped.filter(p => p._1 < 30 && p._2 < 30).size == 30 * 29 / 2)
    assert(uncapped.contains((100L, 101L)),
      "near-dup pair must survive banding")
    // default cap is a no-op on the fixture corpus (oracle equivalence)
    val fixDefault = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixUncapped = Dedup.minhashPairs(docs, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fixDefault == fixUncapped)
  }

  test("incremental simhash equals the full run's cross-boundary pairs; pile-up cap-invariant") {
    import spark.implicits._
    val isNew = col("doc_id") % 10 === 0
    val inc = Dedup.simhashPairsAgainst(docs.filter(isNew),
      docs.filter(!isNew)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.simhashPairs(docs).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0))))
      .filter { case (a, b) => a % 10 == 0 && b % 10 != 0 }.toSet
    assert(inc == full, "incremental must equal the full run across the boundary")
    // identical-doc pile-up across the boundary survives any cap via
    // the sh-equality rescue
    val dup = "the quick brown fox jumps over the lazy dog"
    val newD = Seq((1000L, dup)).toDF("doc_id", "text")
    val idx = (0L until 25L).map(i => (i, dup)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsAgainst(newD, idx, maxBucket = 1)
      .collect()
    assert(pairs.length == 25 && pairs.forall(_.getInt(4) == 0))
  }

  test("incremental minhash guard: index pile-up capped, output cap-invariant") {
    import spark.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val index = ((0L until 30L).map(i => (i * 10 + 1, dup)) :+
      (501L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1000L, dup), // collides with the 30-doc pile-up bucket
      (1001L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashPairsAgainst(batch, index, pct = 70,
      maxBucket = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap every pile-up bucket: the identical-signature rescue keeps
    // all 30 batch-x-index duplicate pairs, the near-dup pair's
    // bucket is under the cap
    val capped = Dedup.minhashPairsAgainst(batch, index, pct = 70,
      maxBucket = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
    assert(uncapped.count(_._1 == 1000L) == 30)
    assert(uncapped.contains((1001L, 501L)))
  }

  test("LSH oversized-bucket guard bounds buckets under a vector pile-up") {
    import spark.implicits._
    // 50 near-identical directions: every hyperplane assigns them the
    // same sign, so without the guard they all share one bucket per
    // table — and the refinement planes can't separate them either,
    // so only the hard cap bounds the bucket
    val base = Array(1.0f, 0.5f, -0.25f, 0.8f)
    val corpus = (0L until 50L)
      .map(i => (i, base.map(x => x + (i % 3) * 1e-6f).toSeq))
      .toDF("vec_id", "embedding")
    val refined = Similarity.multiTableBuckets(corpus, nBits = 4,
      tables = 2, maxBucket = 5)
    val worst = refined.groupBy("tid", "bkey", "sub").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(worst <= 5, s"refined LSH bucket of $worst rows escaped the cap")
    // determinism of the capped prefix
    val a = refined.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val b = Similarity.multiTableBuckets(corpus, nBits = 4,
      tables = 2, maxBucket = 5).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("LSH cap never invents pairs; default cap is a no-op at test scale") {
    val unguarded = Similarity.lshCosinePairs(embs, threshold = 0.4,
      nBits = 4, tables = 4, maxBucket = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = Similarity.lshCosinePairs(embs, threshold = 0.4,
      nBits = 4, tables = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default == unguarded,
      "default maxBucket must not trigger at test scale (oracle equivalence)")
    val tight = Similarity.lshCosinePairs(embs, threshold = 0.4,
      nBits = 4, tables = 4, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(unguarded), "the cap must never invent pairs")
  }

  test("bm25 serving tail is window-free and survives a stopword-only query") {
    import spark.implicits._
    import graft.operators.Retrieval
    // adversarial corpus: ONE universal stopword in every doc, so the
    // stopword query's candidate set is the entire corpus — exactly
    // the shape that melted the row_number window onto one reducer
    val n = 500
    val corpus = (0L until n).map(i =>
      (i, s"the filler$i body$i")).toDF("doc_id", "text")
    val queries = Seq((0L, "the")).toDF("query_id", "text")
    val top = Retrieval.bm25TopK(corpus, queries, k = 7)
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "per-query top-k must be the bounded-heap aggregator, not a window")
    val rows = top.orderBy("rank").collect()
    // every doc matched, only k survive, ordering total (score ties →
    // doc_id asc: all docs have identical len and tf for "the")
    assert(rows.length == 7)
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == (0L until 7L))
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 7))
    val scores = rows.map(_.getAs[Long]("score_ppm")).distinct
    assert(scores.length == 1, "uniform stopword must tie every doc")
  }

  test("native run-length tf pairs equal the distinct/filter HOF on the corpus") {
    import graft.functions.hashFunctions.{gram_fps, run_length_longs, run_length_strings}
    // long variant over the fingerprint arrays the BM25 index uses
    val fps = docs.select(col("doc_id"), gram_fps(col("text"), 1).as("fps"))
    val native = fps.select(col("doc_id"),
      explode(run_length_longs(col("fps"))).as("p"))
      .select(col("doc_id"), col("p.fp").as("fp"), col("p.tf").as("tf"))
    val hof = fps.select(col("doc_id"),
      explode(transform(array_distinct(col("fps")), f =>
        struct(f.as("fp"),
          size(filter(col("fps"), x => x === f)).cast("long").as("tf"))))
        .as("p"))
      .select(col("doc_id"), col("p.fp").as("fp"), col("p.tf").as("tf"))
    assert(native.exceptAll(hof).count() == 0 &&
      hof.exceptAll(native).count() == 0)
    // string variant over token arrays (the t28 tagger path) + edges
    import spark.implicits._
    val edge = (Seq("", "a", "a a a", "b a b a b", "  ", "x y z")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    val toks = edge.select(col("doc_id"),
      graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
    val nat2 = toks.select(col("doc_id"),
      explode(run_length_strings(col("toks"))).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))
    val hof2 = toks.select(col("doc_id"),
      explode(transform(array_distinct(col("toks")), t =>
        struct(t.as("term"),
          size(filter(col("toks"), x => x === t)).cast("long").as("tf"))))
        .as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))
    assert(nat2.exceptAll(hof2).count() == 0 &&
      hof2.exceptAll(nat2).count() == 0)
  }

  test("knnApplyCdf equals a from-scratch rebuild under the frozen centroids") {
    val e = embs
    val (cents, home) = Similarity.knnIndex(e, numCentroids = 8)
    // disjoint CDF legs: deletes, an update (pre+post with a negated
    // embedding, same id), inserts under fresh ids
    val upd = e.filter(col("vec_id") % 5 === 2 && col("vec_id") % 7 =!= 1)
    val updNew = upd.select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    val ins = e.filter(col("vec_id") % 11 === 3)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val cdf = e.filter(col("vec_id") % 7 === 1)
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
      .unionByName(upd.select(col("vec_id"), col("embedding"),
        lit("update_preimage").as("_change_type")))
      .unionByName(updNew.select(col("vec_id"), col("embedding"),
        lit("update_postimage").as("_change_type")))
      .unionByName(ins.select(col("vec_id"), col("embedding"),
        lit("insert").as("_change_type")))
    val maintained = Similarity.knnApplyCdf(cents, home, cdf)
    // the modified membership, assigned from scratch under the SAME
    // frozen centroids (no retraining — the operator's contract)
    val modified = e
      .filter(col("vec_id") % 7 =!= 1 &&
        !(col("vec_id") % 5 === 2 && col("vec_id") % 7 =!= 1))
      .select("vec_id", "embedding")
      .unionByName(updNew).unionByName(ins)
    val (_, scratch) = Similarity.knnIndex(modified, numCentroids = 8,
      centsIn = Some(cents))
    val cols = Seq("neighbor_id", "cid", "n_emb", "n_nrm")
    assert(maintained.select(cols.map(col): _*)
      .exceptAll(scratch.select(cols.map(col): _*)).count() == 0)
    assert(scratch.select(cols.map(col): _*)
      .exceptAll(maintained.select(cols.map(col): _*)).count() == 0)
    // an unknown change type fails loudly instead of corrupting
    import spark.implicits._
    val bad = Seq((1L, "merge")).toDF("vec_id", "_change_type")
      .withColumn("embedding", lit(null)
        .cast(e.schema("embedding").dataType))
      .select("vec_id", "embedding", "_change_type")
    val ex = intercept[Exception] {
      Similarity.knnApplyCdf(cents, home, bad).count()
    }
    assert(ex.getMessage != null)
  }

  test("sq8 layout round-trip serves bit-identically to direct ivf-sq8") {
    val direct = Similarity.ivfSq8TopK(embs, embs.filter(col("vec_id") < 3),
      k = 5, numCentroids = 8, iters = 2, nprobe = 2)
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sq8_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.sq8IndexWrite(embs, out, numCentroids = 8, iters = 2)
    val served = Similarity.ivfSq8TopKFromLayout(spark, out,
      embs.filter(col("vec_id") < 3), k = 5, nprobe = 2)
    assert(direct.exceptAll(served).count() == 0 &&
      served.exceptAll(direct).count() == 0)
  }

  test("knn layout round-trip: CDF rewrite touches only its cid dirs " +
      "and serves bit-identically to the in-memory fold") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_knn_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.knnIndexWrite(embs, out, numCentroids = 8)
    val (cents, home) = Similarity.knnIndex(embs, numCentroids = 8)
    // a SPARSE batch (two deletes, one insert) so some of the 8
    // lists are provably untouched by the rewrite
    val cdf = embs.filter(col("vec_id").isin(4L, 17L))
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
      .unionByName(embs.filter(col("vec_id") === 6L)
        .select((col("vec_id") + 5000).as("vec_id"), col("embedding"),
          lit("insert").as("_change_type")))
    // which lists the CDF touches (from the in-memory fold's legs)
    val touched = home
      .join(cdf.filter(col("_change_type") === "delete")
        .select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi").select("cid")
      .union(Similarity.homeRowsAgainst(
        cdf.filter(col("_change_type") === "insert")
          .select("vec_id", "embedding"), cents).select("cid"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(touched.nonEmpty && touched.size < 8,
      s"fixture must leave some list untouched, touched=$touched")
    // snapshot the untouched directories' file listings
    def files(cid: Long): Set[(String, Long)] = {
      val dir = new java.io.File(out, s"cid=$cid")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouchedCids = (0L until 8L).filterNot(touched).toSet
    val before = untouchedCids.map(c => c -> files(c)).toMap
    Similarity.knnLayoutApplyCdf(spark, out, cdf)
    // untouched lists keep their files byte-for-byte (same names,
    // same mtimes — dynamic overwrite never staged them)
    untouchedCids.foreach { c =>
      assert(files(c) == before(c), s"cid=$c was rewritten")
    }
    // and the layout serves the SAME rows as the in-memory fold
    val maintained = Similarity.knnApplyCdf(cents, home, cdf)
    val direct = Similarity.knnTopKAgainst(
      embs.filter(col("vec_id") < 3), cents, maintained,
      k = 3, nprobe = 2)
    val served = Similarity.knnTopKFromLayout(spark, out,
      embs.filter(col("vec_id") < 3), k = 3, nprobe = 2)
    assert(direct.exceptAll(served).count() == 0 &&
      served.exceptAll(direct).count() == 0)
  }

  test("knn layout CDF rewrite drops a list whose last row departs") {
    import spark.implicits._
    // 4 vectors in 2 far-apart clusters -> 2 centroids, 2 lists
    val tiny = Seq(
      (0L, Array(10f, 0f, 0f, 0f)), (1L, Array(10.5f, 0f, 0f, 0f)),
      (2L, Array(-10f, 0f, 0f, 0f)), (3L, Array(-10.5f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_knn_guard_empty_${spark.sparkContext.applicationId}").getPath
    Similarity.knnIndexWrite(tiny, out, numCentroids = 2)
    val homeDirs0 = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).toSet
    assert(homeDirs0.size == 2)
    // delete BOTH members of one list: its directory must disappear
    val (cents, home) = Similarity.knnIndex(tiny, numCentroids = 2)
    val victims = home.filter(col("cid") === home
        .groupBy("cid").count().orderBy("cid").head().getLong(0))
      .select("neighbor_id").collect().map(_.getLong(0))
    val cdf = tiny.filter(col("vec_id").isin(victims: _*))
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
    Similarity.knnLayoutApplyCdf(spark, out, cdf)
    val homeDirs1 = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).toSet
    assert(homeDirs1.size == 1, s"emptied list not dropped: $homeDirs1")
  }

  test("bm25 layout round-trip: CDF rewrite touches only its term " +
      "buckets and serves bit-identically to the in-memory fold") {
    import graft.operators.Retrieval
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bm25_guard_${spark.sparkContext.applicationId}").getPath
    val B = 64
    Retrieval.bm25IndexWrite(docs, out, buckets = B)
    // a SPARSE batch (one delete, one insert) touches only the
    // buckets of those two docs' terms
    val cdf = docs.filter(col("doc_id") === 4L)
      .select(col("doc_id"), col("text"),
        lit("delete").as("_change_type"))
      .unionByName(docs.filter(col("doc_id") === 6L)
        .select((col("doc_id") + 5000).as("doc_id"), col("text"),
          lit("insert").as("_change_type")))
    import graft.functions.hashFunctions.gram_fps
    val touched = docs.filter(col("doc_id").isin(4L, 6L))
      .select(explode(array_distinct(gram_fps(col("text"), 1))).as("fp"))
      .select(pmod(col("fp"), lit(B.toLong)).as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(touched.nonEmpty && touched.size < B,
      s"fixture must leave some bucket untouched (${touched.size})")
    def files(dir: String, part: String): Set[(String, Long)] = {
      val d = new java.io.File(dir, part)
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouched = (0L to B.toLong).filterNot(touched).toSet
    val before = untouched.map(b => b -> files(out, s"bkt=$b")).toMap
    Retrieval.bm25LayoutApplyCdf(spark, out, cdf)
    untouched.foreach { b =>
      assert(files(out, s"bkt=$b") == before(b), s"bkt=$b was rewritten")
    }
    // the maintained layout serves the SAME rows as the in-memory fold
    val folded = Retrieval.bm25ApplyCdf(Retrieval.bm25Index(docs), cdf)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val direct = Retrieval.bm25TopKAgainst(folded, queries, k = 10)
    val served = Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10)
    assert(direct.exceptAll(served).count() == 0 &&
      served.exceptAll(direct).count() == 0)
  }

  test("layout-served probes read the _meta census, never _docs — " +
      "and the maintained _meta tracks every fold exactly") {
    import graft.operators.Retrieval
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bm25_meta_guard_${spark.sparkContext.applicationId}").getPath
    Retrieval.bm25IndexWrite(docs, out, buckets = 64)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    // the probe plan's input files: postings buckets (and for rm3 the
    // load-bearing _fwd forward copy) — the per-document _docs census
    // must NOT appear; its two scalars live in _meta
    def noDocsRead(df: org.apache.spark.sql.DataFrame): Unit = {
      val bad = df.inputFiles.filter(_.contains("_docs"))
      assert(bad.isEmpty, s"probe reads _docs files: ${bad.take(3).toSeq}")
    }
    noDocsRead(Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10))
    noDocsRead(Retrieval.rm3TopKFromLayout(spark, out, queries, k = 10))
    // _meta stays exact through append + CDF folds: equal to the
    // census a full _docs re-aggregation would produce
    def metaEqualsCensus(): Unit = {
      val m = spark.read.parquet(out + "_meta").head()
      val c = spark.read.parquet(out + "_docs")
        .agg(count(lit(1)), coalesce(sum("len"), lit(0L))).head()
      assert(m.getLong(m.fieldIndex("n_docs")) == c.getLong(0) &&
        m.getLong(m.fieldIndex("total_len")) == c.getLong(1),
        s"meta drifted from the _docs census: $m vs $c")
    }
    metaEqualsCensus()
    Retrieval.bm25LayoutAppend(spark, out,
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    metaEqualsCensus()
    Retrieval.bm25LayoutApplyCdf(spark, out,
      docs.filter(col("doc_id") === 4L)
        .select(col("doc_id"), col("text"),
          lit("delete").as("_change_type")))
    metaEqualsCensus()
    // recovery path: a clobbered meta census rebuilds from _docs
    // (fold_seq kept at the intent's value so the layout stays
    // probe-consistent after the rebuild)
    import spark.implicits._
    Seq((64L, 0L, 0L, 2L))
      .toDF("buckets", "n_docs", "total_len", "fold_seq")
      .write.mode("overwrite").parquet(out + "_meta")
    Retrieval.bm25MetaRebuild(spark, out)
    metaEqualsCensus()
  }

  test("df-capped layout probe skips capped terms' buckets entirely " +
      "and the _df dictionary tracks every fold exactly") {
    import graft.operators.Retrieval
    import graft.functions.hashFunctions.gram_fps
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bm25_dfcap_guard_${spark.sparkContext.applicationId}").getPath
    val B = 64
    Retrieval.bm25IndexWrite(docs, out, buckets = B)
    // stored df (SUM of the delta log) must equal df derived from
    // the postings — initially and after append + CDF folds
    def dfAgree(): Unit = {
      val stored = spark.read.parquet(out + "_df")
        .groupBy("fp").agg(sum("ddf").as("df"))
        .filter(col("df") =!= 0)
      val derived = spark.read.parquet(out)
        .filter(col("fp").isNotNull)
        .groupBy("fp").agg(count(lit(1)).as("df"))
      assert(stored.exceptAll(derived).count() == 0 &&
        derived.exceptAll(stored).count() == 0,
        "_df delta log drifted from the postings")
    }
    dfAgree()
    Retrieval.bm25LayoutAppend(spark, out,
      docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 7000).as("doc_id"), col("text")))
    dfAgree()
    Retrieval.bm25LayoutApplyCdf(spark, out,
      docs.filter(col("doc_id") === 4L)
        .select(col("doc_id"), col("text"),
          lit("delete").as("_change_type")))
    dfAgree()
    // capped probe: stopword-grade terms (df > cap) drop BEFORE the
    // postings pruning, so their buckets never open
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val cap = 200000L
    val meta = spark.read.parquet(out + "_meta").head()
    val nDocs = meta.getLong(meta.fieldIndex("n_docs"))
    val qfps = queries
      .select(explode(array_distinct(gram_fps(col("text"), 1))).as("fp"))
      .distinct()
    val dfAll = spark.read.parquet(out)
      .join(qfps, Seq("fp"), "left_semi")
      .groupBy("fp").agg(count(lit(1)).as("df"))
    val surviving = dfAll
      .filter(col("df") * 1000000L <= cap * nDocs)
      .select(pmod(col("fp"), lit(B.toLong)).as("b"))
      .collect().map(_.getLong(0)).toSet
    val allQ = dfAll.select(pmod(col("fp"), lit(B.toLong)).as("b"))
      .collect().map(_.getLong(0)).toSet
    assert(surviving.size < allQ.size,
      s"fixture must have stopword-only buckets (${allQ.size} vs " +
        s"${surviving.size}) for the skip to be observable")
    // RUNTIME bytes-read (inputFiles is the static listing and AQE
    // final-plan metric objects are re-instantiated copies — neither
    // reflects what execution actually opened): a TaskEnd listener
    // totals inputMetrics.bytesRead per probe, flushed through the
    // async bus before reading. The capped probe pays the tiny _df
    // dictionary read but skips the capped-out terms' posting
    // buckets, so it must read strictly fewer bytes overall.
    def bytesRead(df: org.apache.spark.sql.DataFrame): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            acc.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftTestBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }
    val cappedBytes = bytesRead(
      Retrieval.bm25TopKFromLayout(spark, out, queries,
        k = 10, dfCapPpm = Some(cap)))
    val uncappedBytes = bytesRead(
      Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10))
    assert(cappedBytes < uncappedBytes,
      s"cap skipped nothing: capped=$cappedBytes uncapped=$uncappedBytes")
    val capped = Retrieval.bm25TopKFromLayout(spark, out, queries,
      k = 10, dfCapPpm = Some(cap))
    // and the capped layout serve equals the in-memory capped probe
    val direct = Retrieval.bm25TopKAgainst(
      Retrieval.bm25ApplyCdf(
        Retrieval.bm25Index(docs.select("doc_id", "text")
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 7000).as("doc_id"), col("text")))),
        docs.filter(col("doc_id") === 4L)
          .select(col("doc_id"), col("text"),
            lit("delete").as("_change_type"))),
      queries, k = 10, dfCapPpm = Some(cap))
    assert(capped.count() > 0,
      "capped probe must still rank through the surviving terms")
    assert(direct.exceptAll(capped).count() == 0 &&
      capped.exceptAll(direct).count() == 0)
  }

  test("rm3 through the layout serves bit-identically, before and " +
      "after a CDF fold") {
    import graft.operators.Retrieval
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_rm3_guard_${spark.sparkContext.applicationId}").getPath
    Retrieval.bm25IndexWrite(docs, out, buckets = 64)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val direct = Retrieval.rm3Expand(Retrieval.bm25Index(docs),
      queries, k = 10, fbDocs = 5, fbTerms = 3)
    val served = Retrieval.rm3TopKFromLayout(spark, out, queries,
      k = 10, fbDocs = 5, fbTerms = 3)
    assert(direct.exceptAll(served).count() == 0 &&
      served.exceptAll(direct).count() == 0)
    // fold a CDF batch; the maintained layout (incl. the _fwd forward
    // copy the feedback mining reads) must serve the folded corpus
    val cdf = docs.filter(col("doc_id").isin(4L, 17L))
      .select(col("doc_id"), col("text"),
        lit("delete").as("_change_type"))
      .unionByName(docs.filter(col("doc_id") === 6L)
        .select((col("doc_id") + 5000).as("doc_id"), col("text"),
          lit("insert").as("_change_type")))
    Retrieval.bm25LayoutApplyCdf(spark, out, cdf)
    val folded = Retrieval.bm25ApplyCdf(Retrieval.bm25Index(docs), cdf)
      .localCheckpoint(eager = false)
    val direct2 = Retrieval.rm3Expand(folded, queries,
      k = 10, fbDocs = 5, fbTerms = 3)
    val served2 = Retrieval.rm3TopKFromLayout(spark, out, queries,
      k = 10, fbDocs = 5, fbTerms = 3)
    assert(direct2.exceptAll(served2).count() == 0 &&
      served2.exceptAll(direct2).count() == 0)
  }

  test("bm25 layout CDF rewrite drops a bucket whose last posting departs") {
    import spark.implicits._
    import graft.operators.Retrieval
    // 2 docs with disjoint vocabularies -> disjoint bucket sets
    val tiny = Seq((0L, "aardvark aardvark badger"),
      (1L, "zebra yak walrus")).toDF("doc_id", "text")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bm25_guard_empty_${spark.sparkContext.applicationId}").getPath
    Retrieval.bm25IndexWrite(tiny, out, buckets = 8)
    val dirs0 = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName).toSet
    // delete doc 0: every bucket holding ONLY its terms must vanish
    val cdf = tiny.filter(col("doc_id") === 0L)
      .select(col("doc_id"), col("text"),
        lit("delete").as("_change_type"))
    Retrieval.bm25LayoutApplyCdf(spark, out, cdf)
    val dirs1 = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName).toSet
    assert(dirs1.subsetOf(dirs0) && dirs1.size < dirs0.size,
      s"emptied buckets not dropped: before=$dirs0 after=$dirs1")
    // and the remaining layout is exactly doc 1's postings
    val left = spark.read.parquet(out).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L))
  }

  test("bm25 layout CDF fold rejects a drifted departure preimage") {
    import spark.implicits._
    import graft.operators.Retrieval
    val tiny = Seq((0L, "aardvark aardvark badger"),
      (1L, "zebra yak walrus")).toDF("doc_id", "text")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bm25_guard_drift_${spark.sparkContext.applicationId}").getPath
    Retrieval.bm25IndexWrite(tiny, out, buckets = 8)
    def foldFails(cdf: org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception] {
        Retrieval.bm25LayoutApplyCdf(spark, out, cdf)
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("preimage")), e.getMessage)
    }
    // preimage text drifted from what was indexed: the touched bucket
    // set would be incomplete -> hard error, nothing rewritten
    foldFails(Seq((0L, "aardvark badger EXTRA"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        lit("delete").as("_change_type")))
    // departure for a doc the index never held -> same invariant
    foldFails(Seq((99L, "gnu gnu"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        lit("delete").as("_change_type")))
    // the layout is untouched: doc 0's true preimage still folds
    Retrieval.bm25LayoutApplyCdf(spark, out,
      tiny.filter(col("doc_id") === 0L)
        .select(col("doc_id"), col("text"),
          lit("delete").as("_change_type")))
    val left = spark.read.parquet(out).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L))
  }

  test("sq8 layout CDF rewrite: frozen-stats arrivals, touched dirs only") {
    import graft.operators.VectorStats
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sq8cdf_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.sq8IndexWrite(embs, out, numCentroids = 8, iters = 2)
    val cents = spark.read.parquet(out + "_cents")
    val ins = embs.filter(col("vec_id") === 6L)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val cdf = embs.filter(col("vec_id").isin(4L, 17L))
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
      .unionByName(ins.select(col("vec_id"), col("embedding"),
        lit("insert").as("_change_type")))
    // touched lists: homes of the two departures + the arrival's
    val touched = spark.read.parquet(out)
      .filter(col("neighbor_id").isin(4L, 17L)).select("cid")
      .union(VectorStats.assignToCentroids(ins,
        cents.select("cid", "cemb")).select(col("cluster_id").as("cid")))
      .distinct().collect().map(_.get(0).toString.toLong).toSet
    assert(touched.nonEmpty && touched.size < 8)
    def files(cid: Long): Set[(String, Long)] = {
      val dir = new java.io.File(out, s"cid=$cid")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouched = (0L until 8L).filterNot(touched).toSet
    val before = untouched.map(c => c -> files(c)).toMap
    Similarity.sq8LayoutApplyCdf(spark, out, cdf)
    untouched.foreach(c => assert(files(c) == before(c),
      s"cid=$c was rewritten"))
    // membership folded: departures gone, the arrival sits in its
    // frozen-centroid home list
    val after = spark.read.parquet(out)
      .select("neighbor_id", "cid").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toLong).toMap
    assert(!after.contains(4L) && !after.contains(17L))
    val expCid = VectorStats.assignToCentroids(ins,
      cents.select("cid", "cemb")).head().getLong(1)
    assert(after(5006L) == expCid)
  }

  test("sq8 stats refresh: oog drops to zero, serving equals a " +
      "from-scratch build, membership mismatch rejected") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sq8refresh_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.sq8IndexWrite(embs, out, numCentroids = 8, iters = 2)
    val cents = spark.read.parquet(out + "_cents")
      .localCheckpoint(eager = true)
    // a deliberately DRIFTED batch folds in under the frozen grid:
    // the census must register out-of-grid arrivals (the refresh
    // trigger condition)
    val drifted = embs.filter(col("vec_id") % 31 === 7)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * lit(1.25) + lit(0.1)).as("embedding"))
      .localCheckpoint(eager = true)
    Similarity.sq8LayoutApplyCdf(spark, out,
      drifted.select(col("vec_id"), col("embedding"),
        lit("insert").as("_change_type")))
    val membership = embs
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      .unionByName(drifted)
      .localCheckpoint(eager = true)
    val oogBefore = Similarity.sq8DriftCensus(
      spark.read.parquet(out + "_stats"), membership)
      .agg(max("oog_ppm")).head().getLong(0)
    assert(oogBefore > 0, "fixture drift must leave the frozen grid")
    // a stale membership (missing the arrivals) must be rejected
    val e = intercept[IllegalArgumentException] {
      Similarity.sq8StatsRefresh(spark, out, embs)
    }
    assert(e.getMessage.contains("membership"))
    Similarity.sq8StatsRefresh(spark, out, membership)
    // the refreshed grid covers the membership exactly
    val oogAfter = Similarity.sq8DriftCensus(
      spark.read.parquet(out + "_stats"), membership)
      .agg(max("oog_ppm")).head().getLong(0)
    assert(oogAfter == 0, s"post-refresh oog_ppm $oogAfter")
    // and serving equals a from-scratch build of the same membership
    // under the same frozen centroids
    val out2 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sq8refresh_guard2_${spark.sparkContext.applicationId}").getPath
    Similarity.sq8IndexWrite(membership, out2, numCentroids = 8,
      iters = 2, centsOpt = Some(cents))
    val queries = embs.filter(col("vec_id") < 3)
    val served = Similarity.ivfSq8TopKFromLayout(spark, out,
      queries, k = 10, nprobe = 2)
    val scratch = Similarity.ivfSq8TopKFromLayout(spark, out2,
      queries, k = 10, nprobe = 2)
    assert(served.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(served).count() == 0)
  }

  test("layout compaction: only fragmented partitions rewrite, rows " +
      "and serving unchanged") {
    import graft.operators.LayoutMaintenance
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_compact_guard_${spark.sparkContext.applicationId}").getPath
    val base = embs.filter(col("vec_id") % 5 =!= 0)
      .select("vec_id", "embedding")
    Similarity.knnIndexWrite(base, out, numCentroids = 4)
    val cents = spark.read.parquet(out + "_cents")
    // two append batches fragment SOME cid= dirs (each batch only
    // touches the lists its vectors home to)
    Seq(0L, 1L).foreach { i =>
      Similarity.homeRowsAgainst(
        embs.filter(col("vec_id") % 5 === 0 &&
          pmod(col("vec_id") / 5, lit(2)) === i)
          .select("vec_id", "embedding"), cents)
        .write.mode("append").partitionBy("cid").parquet(out)
    }
    val censusBefore = LayoutMaintenance.fileCensus(spark, out, "cid")
    assert(censusBefore.exists(_._2 > 1),
      s"fixture must be fragmented: $censusBefore")
    val healthy = censusBefore.collect { case (v, 1, _) => v }.toSet
    def files(cid: String): Set[(String, Long)] = {
      val dir = new java.io.File(out, s"cid=$cid")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val healthyBefore = healthy.map(c => c -> files(c)).toMap
    val rowsBefore = spark.read.parquet(out).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val servedBefore = Similarity.knnTopKFromLayout(spark, out,
      embs.filter(col("vec_id") < 3), k = 5, nprobe = 2).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    LayoutMaintenance.compact(spark, out, "cid")
    // fragmented dirs are now one file; healthy dirs byte-for-byte
    val censusAfter = LayoutMaintenance.fileCensus(spark, out, "cid")
    assert(censusAfter.forall(_._2 == 1),
      s"compaction left fragments: $censusAfter")
    healthy.foreach(c => assert(files(c) == healthyBefore(c),
      s"healthy cid=$c was rewritten"))
    // rows and serving are unchanged
    val rowsAfter = spark.read.parquet(out).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rowsAfter == rowsBefore)
    val servedAfter = Similarity.knnTopKFromLayout(spark, out,
      embs.filter(col("vec_id") < 3), k = 5, nprobe = 2).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(servedAfter == servedBefore)
  }

  test("layout compaction is size-bounded: a hot partition compacts " +
      "to several bounded files, never one unbounded straggler file") {
    import graft.operators.LayoutMaintenance
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_compact_bound_${spark.sparkContext.applicationId}").getPath
    // one HOT partition (cid=0 holds ~all rows) written as many small
    // files, one cold partition with one file
    val hot = embs.select(col("vec_id"), col("embedding"),
      (col("vec_id") % 2 * 0).as("cid")) // all cid=0
    hot.repartition(8).write.partitionBy("cid").mode("overwrite")
      .parquet(out)
    embs.limit(2).select((col("vec_id") + 100000).as("vec_id"),
        col("embedding"), lit(1L).as("cid"))
      .coalesce(1).write.partitionBy("cid").mode("append").parquet(out)
    val before = LayoutMaintenance.fileCensus(spark, out, "cid")
    val hotBytes = before.find(_._1 == "0").get._3
    assert(before.find(_._1 == "0").get._2 > 4, s"fixture: $before")
    // target ~1/3 of the hot partition's bytes -> expect ~3 files,
    // and definitely MORE than one (the unbounded-straggler bug) but
    // FEWER than before (compaction actually compacted)
    val target = math.max(1L, hotBytes / 3)
    val rowsBefore = spark.read.parquet(out).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    LayoutMaintenance.compact(spark, out, "cid", maxFiles = 1,
      targetBytes = target)
    val after = LayoutMaintenance.fileCensus(spark, out, "cid")
    val hotAfter = after.find(_._1 == "0").get
    assert(hotAfter._2 > 1,
      s"hot partition collapsed to one unbounded file: $after")
    assert(hotAfter._2 < before.find(_._1 == "0").get._2,
      s"hot partition not compacted: before=$before after=$after")
    // rows preserved exactly; the cold partition untouched
    val rowsAfter = spark.read.parquet(out).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rowsAfter == rowsBefore)
    assert(after.find(_._1 == "1").get._2 == 1)
  }

  test("knn centroid retrain: mega-list census drops on a skewed " +
      "fixture, serving equals a from-scratch build") {
    import graft.operators.VectorStats
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_knnretrain_guard_${spark.sparkContext.applicationId}").getPath
    // a deliberately BAD quantizer: one centroid at the corpus mean
    // plus three far outside the data — every vector homes to the
    // mean list, the exact mega-list shape a drifting ingest leaves
    // behind under frozen centroids
    val bad = VectorStats.kmeansCentroids(embs, 1, 1)
      .unionByName(embs.filter(col("vec_id") < 3)
        .select((col("vec_id") + 1000).as("cid"),
          transform(col("embedding"),
            x => x.cast("double") * lit(1000.0)).as("cemb")))
    Similarity.knnIndexWrite(embs, out, numCentroids = 4,
      centsIn = Some(bad))
    // fold a CDF batch first: the retrain must run over the layout's
    // CURRENT membership, not the build-time corpus
    val ins = embs.filter(col("vec_id") === 6L)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    Similarity.knnLayoutApplyCdf(spark, out,
      embs.filter(col("vec_id").isin(4L, 17L))
        .select(col("vec_id"), col("embedding"),
          lit("delete").as("_change_type"))
        .unionByName(ins.select(col("vec_id"), col("embedding"),
          lit("insert").as("_change_type"))))
    val before = Similarity.knnLayoutCensus(spark, out, maxList = 8)
      .agg(sum(when(col("capped"), 1L).otherwise(0L)),
        max("list_size"), sum("rows_dropped")).head()
    assert(before.getLong(0) >= 1 && before.getLong(2) > 0,
      s"fixture must start with a mega-list, got $before")
    Similarity.knnCentroidRetrain(spark, out, numCentroids = 8,
      iters = 2)
    val after = Similarity.knnLayoutCensus(spark, out, maxList = 8)
      .agg(sum(when(col("capped"), 1L).otherwise(0L)),
        max("list_size"), sum("rows_dropped")).head()
    assert(after.getLong(1) < before.getLong(1),
      s"retrain must shrink the largest list: $before -> $after")
    assert(after.getLong(2) < before.getLong(2),
      s"retrain must shed cap-dropped rows: $before -> $after")
    // and serving equals a from-scratch build of the same membership
    val membership = embs.select("vec_id", "embedding")
      .filter(!col("vec_id").isin(4L, 17L)).unionByName(ins)
    val out2 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_knnretrain_guard2_${spark.sparkContext.applicationId}").getPath
    Similarity.knnIndexWrite(membership, out2, numCentroids = 8,
      iters = 2)
    val queries = embs.filter(col("vec_id") < 3)
    val served = Similarity.knnTopKFromLayout(spark, out, queries,
      k = 5, nprobe = 2)
    val scratch = Similarity.knnTopKFromLayout(spark, out2, queries,
      k = 5, nprobe = 2)
    assert(served.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(served).count() == 0)
  }

  test("pq layout CDF rewrite: frozen-book arrivals, touched dirs only") {
    import graft.operators.VectorStats
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqcdf_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.pqIndexWrite(embs, out, numCentroids = 8, m = 4,
      ksub = 8, iters = 2)
    val coarse = spark.read.parquet(out + "_coarse")
    val ins = embs.filter(col("vec_id") === 6L)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val cdf = embs.filter(col("vec_id").isin(4L, 17L))
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
      .unionByName(ins.select(col("vec_id"), col("embedding"),
        lit("insert").as("_change_type")))
    val touched = spark.read.parquet(out)
      .filter(col("vec_id").isin(4L, 17L)).select("lcid")
      .union(VectorStats.assignToCentroids(ins,
        coarse.select("cid", "cemb"))
        .select(col("cluster_id").as("lcid")))
      .distinct().collect().map(_.get(0).toString.toLong).toSet
    assert(touched.nonEmpty && touched.size < 8)
    def files(c: Long): Set[(String, Long)] = {
      val dir = new java.io.File(out, s"lcid=$c")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouched = (0L until 8L).filterNot(touched).toSet
    val before = untouched.map(c => c -> files(c)).toMap
    Similarity.pqLayoutApplyCdf(spark, out, cdf, m = 4)
    untouched.foreach(c => assert(files(c) == before(c),
      s"lcid=$c was rewritten"))
    val after = spark.read.parquet(out)
      .select("vec_id", "lcid").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toLong).toMap
    assert(!after.contains(4L) && !after.contains(17L))
    val expL = VectorStats.assignToCentroids(ins,
      coarse.select("cid", "cemb")).head().getLong(1)
    assert(after(5006L) == expL)
  }

  test("sq8 arrivals clamp to the frozen grid on BOTH sides") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sq8clamp_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.sq8IndexWrite(embs, out, numCentroids = 8, iters = 2)
    // an arrival far OUTSIDE the frozen grid (scaled by -10): without
    // the low clamp its codes go negative — unstorable in a uint8
    val wild = embs.filter(col("vec_id") === 6L)
      .select((col("vec_id") + 9000).as("vec_id"),
        transform(col("embedding"), x => x * lit(-10.0f)).as("embedding"))
    val cdf = wild.select(col("vec_id"), col("embedding"),
      lit("insert").as("_change_type"))
    Similarity.sq8LayoutApplyCdf(spark, out, cdf)
    val codes = spark.read.parquet(out)
      .filter(col("neighbor_id") === 9006L)
      .select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c")).head()
    assert(codes.getLong(0) >= 0L && codes.getLong(1) <= 255L,
      s"codes out of [0,255]: $codes")
    // and the census NAMES the drift: the wild batch is out-of-grid
    val oog = Similarity.sq8DriftCensus(
      Similarity.sq8Stats(embs), wild)
      .agg(max("oog_ppm")).head().getLong(0)
    assert(oog > 0L, "out-of-grid arrival must register in the census")
  }

  test("pq layout round-trip serves bit-identically to direct ivf-pq") {
    val direct = Similarity.ivfPqTopK(embs, embs.filter(col("vec_id") < 3),
      k = 5, numCentroids = 8, nprobe = 2, m = 4, ksub = 8, iters = 2)
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pq_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.pqIndexWrite(embs, out, numCentroids = 8, m = 4,
      ksub = 8, iters = 2)
    val served = Similarity.ivfPqTopKFromLayout(spark, out,
      embs.filter(col("vec_id") < 3), k = 5, nprobe = 2, m = 4)
    assert(direct.exceptAll(served).count() == 0 &&
      served.exceptAll(direct).count() == 0)
  }

  test("dsir bucket census names the collision cost exactly") {
    import spark.implicits._
    import graft.operators.Mixture
    // buckets = 1 forces EVERY gram to collide: the census must say so
    val forced = Mixture.dsirBucketCensus(docs, buckets = 1).head()
    val n = forced.getAs[Long]("n_grams")
    assert(n >= 2)
    assert(forced.getAs[Long]("occupied") == 1L)
    assert(forced.getAs[Long]("max_load") == n)
    assert(forced.getAs[Long]("collided_grams") == n)
    assert(forced.getAs[Long]("collision_ppm") == 1000000L)
    // a single-gram corpus cannot collide at any width
    val one = Mixture.dsirBucketCensus(
      Seq((0L, "solo")).toDF("doc_id", "text"), buckets = 4).head()
    assert(one.getAs[Long]("n_grams") == 1L &&
      one.getAs[Long]("collided_grams") == 0L &&
      one.getAs[Long]("collision_ppm") == 0L)
    // corpus census internal consistency at ds1's width
    val c = Mixture.dsirBucketCensus(docs, buckets = 1024).head()
    assert(c.getAs[Long]("occupied") <= 1024L)
    assert(c.getAs[Long]("max_load") * c.getAs[Long]("occupied")
      >= c.getAs[Long]("n_grams"))
    assert(c.getAs[Long]("collided_grams") <= c.getAs[Long]("n_grams"))
  }

  test("pocket perceptron learns: 0 errors on a separable planted-token fixture") {
    import spark.implicits._
    import graft.operators.{TextAnalysis => TA}
    // positives carry the token 'signal' 3-5x; negatives never do —
    // linearly separable in bucket space, so some round hits the
    // separator and the pocket keeps it (measured: round 5)
    val words = Seq("key", "agg", "row", "scan", "slow", "fast",
      "table", "value", "part", "hash")
    val docs = (0L until 300L).map { i =>
      val filler = (0 until (10 + (i % 7)).toInt)
        .map(j => words(((i * 13 + j * 7) % 10).toInt))
      val pos = i % 3 == 0
      val text = (if (pos) Seq.fill((3 + i % 3).toInt)("signal")
                  else Seq.empty) ++ filler
      (i, text.mkString(" "), if (pos) 1L else -1L)
    }.toDF("doc_id", "text", "y")
    val model = TA.classifierTrain(docs, dim = 32, rounds = 6)
    val wrong = TA.classifierScore(docs, model, dim = 32)
      .join(docs.select("doc_id", "y"), "doc_id")
      .filter((col("margin") >= 0) =!= (col("y") === 1)).count()
    assert(wrong == 0, s"pocket should separate the planted fixture, got $wrong errors")
  }

  test("trained classifier beats the random baseline on the corpus label") {
    import graft.operators.{TextAnalysis => TA}
    // the t30 fixture label (stopword count >= 4) on sf0.001: the
    // hash-collided signal caps accuracy well below 1, but the pocket
    // pick must beat a coin flip by a clear margin
    val all = docs
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val labeled = all.withColumn("y",
      when(size(filter(TA.tokens(col("text")), t => t.isin(stop: _*)))
        >= 5, 1L).otherwise(-1L))
    val model = TA.classifierTrain(labeled, dim = 64, rounds = 8)
    val scored = TA.classifierScore(all, model, dim = 64)
      .join(labeled.select("doc_id", "y"), "doc_id")
    val n = scored.count().toDouble
    val ok = scored
      .filter((col("margin") >= 0) === (col("y") === 1)).count().toDouble
    assert(ok / n > 0.55, s"accuracy ${ok / n} should beat random")
  }

  test("exactQuantiles on a fractional [0,1) domain: correct AND spread") {
    import spark.implicits._
    // the round-11 floor(v) bucketing put ALL of [0,1) in one bucket,
    // turning pass 2 into a single-reducer corpus sort; the affine key
    // must spread a sub-unit domain over the full bucket range
    val n = 50000
    val vals = (0 until n).map(i => ((i * 7919) % n).toDouble / n)
    val df = vals.toDF("score")
    val qs = Seq(0L, 250000L, 500000L, 750000L, 990000L, 1000000L)
    val got = graft.operators.Profile.exactQuantiles(df, "score", qs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val sorted = vals.sorted
    qs.foreach { q =>
      val r = ((n - 1).toLong * q / 1000000L).toInt
      assert(got(q) == sorted(r), s"q=$q")
    }
    // spread bound: with B=2^16 buckets over the observed domain, no
    // bucket (hence no pass-2 window partition) exceeds a tiny slice
    val (lo, hi) = (sorted.head, sorted.last)
    val maxBucket = df.groupBy(graft.operators.Profile
        .affineBucket(col("score"), lo, hi, 1 << 16).as("b"))
      .count().agg(max("count")).head().getLong(0)
    assert(maxBucket <= 4, s"max bucket $maxBucket — domain not spread")
    // all-equal column short-circuits (no corpus sort at all)
    val const = (0 until 1000).map(_ => 0.25).toDF("score")
    val c = graft.operators.Profile.exactQuantiles(const, "score",
      Seq(500000L)).collect()
    assert(c.toSeq.map(r => (r.getLong(0), r.getDouble(1))) ==
      Seq((500000L, 0.25)))
  }

  test("no declared query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — unbounded at scale")
    }
  }

  test("q48 windows over a high-cardinality key (partitioned exchange)") {
    val plan = SparkEntry.queries("q48_window_highcard")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(l_orderkey"),
      s"expected a window exchange hash-partitioned on l_orderkey:\n$plan")
  }

  test("knnIndex is lazy: the mega-list cap runs no eager census job") {
    val sc = spark.sparkContext
    // Lloyd training is eager by design — pre-train so the measured
    // window isolates the assignment + mega-list cap construction
    val pre = graft.operators.VectorStats.kmeansCentroids(embs, 8, 2)
      .localCheckpoint()
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val (cents, home) = Similarity.knnIndex(embs, numCentroids = 8,
      centsIn = Some(pre))
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    // the scored and home lazy checkpoints still materialize their
    // stages at call time (AQE runs a plan's stages inside toRdd);
    // the budget is those TWO useful materializations — the old
    // eager census head(), which materialized nothing reusable, is
    // gone from the count
    assert(after - before <= 2,
      s"knnIndex launched ${after - before} jobs at call time — " +
        "the cap census must be in-plan")
    // and the capped frame still serves correctly
    assert(cents.count() == 8 && home.limit(1).collect().nonEmpty)
  }

  test("topTfidfTerm is lazy: building the frame runs no Spark job") {
    val sc = spark.sparkContext
    docs.count() // materialize the lazy vals / listing before measuring
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val frame = TextAnalysis.topTfidfTerm(docs)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      "topTfidfTerm launched a job at call time — corpus count must be lazy")
    assert(frame.limit(1).collect().nonEmpty) // and it still executes
  }

  test("presigned url cache is LRU-bounded; re-register + refresh heal") {
    PresignedUrlCache.clear()
    val prev = sys.props.get("graft.presignedUrlCache.maxEntries")
    sys.props("graft.presignedUrlCache.maxEntries") = "4"
    val server = new StubSharingServer(expectedToken = "tok").start()
    try {
      val src = Paths.get("/root/testdata/sf0.001/region.parquet")
      server.httpFiles = Map("region.parquet" -> src)
      server.expireFirstQueryUrls = true // first /query signs ?sig=stale
      val schema = spark.read.parquet(src.toString).schema.json
      server.tables = Map("region" -> ((schema, Seq.empty,
        Seq((s"http://127.0.0.1:${server.port}/files/region.parquet",
          Files.size(src), Map.empty[String, String])))))
      val profile = DeltaSharingProfile(server.endpoint, "tok")
      val stale = new DeltaSharingClient(profile)
        .queryTable("share1", "schema1", "region").files.head
      val id = PresignedUrlCache.fileId(stale)
      val spec = PresignedUrlCache.RefreshSpec(profile,
        "share1", "schema1", "region", None, Nil, None, None)
      PresignedUrlCache.register(id, stale.url, spec)
      assert(PresignedUrlCache.urlFor(id) == stale.url)
      // flood with other files' registrations: the map stays bounded
      // and the oldest entry (ours) is evicted
      (1 to 10).foreach(i =>
        PresignedUrlCache.register(s"dummy-$i", s"http://x/$i", spec))
      assert(PresignedUrlCache.cachedUrlCount <= 4)
      intercept[IOException](PresignedUrlCache.urlFor(id))
      // a task (re)registers its own partition's pair right before
      // opening the file — eviction therefore never kills a live read
      PresignedUrlCache.register(id, stale.url, spec)
      assert(PresignedUrlCache.urlFor(id) == stale.url)
      // the stale URL 403s at read time → refresh re-POSTs /query and
      // the renewed URL heals the scan
      val healed = PresignedUrlCache.refresh(id, stale.url)
      assert(healed != stale.url && healed.contains("sig=fresh"))
      assert(PresignedUrlCache.urlFor(id) == healed)
    } finally {
      server.stop()
      prev match {
        case Some(v) => sys.props("graft.presignedUrlCache.maxEntries") = v
        case None => sys.props -= "graft.presignedUrlCache.maxEntries"
      }
      PresignedUrlCache.clear()
    }
  }

  test("cached URL lookups do not block behind an in-flight refresh") {
    PresignedUrlCache.clear()
    val server = new StubSharingServer(expectedToken = "tok").start()
    try {
      val src = Paths.get("/root/testdata/sf0.001/region.parquet")
      server.httpFiles = Map("region.parquet" -> src)
      server.expireFirstQueryUrls = true
      val schema = spark.read.parquet(src.toString).schema.json
      server.tables = Map("region" -> ((schema, Seq.empty,
        Seq((s"http://127.0.0.1:${server.port}/files/region.parquet",
          Files.size(src), Map.empty[String, String])))))
      val profile = DeltaSharingProfile(server.endpoint, "tok")
      val stale = new DeltaSharingClient(profile)
        .queryTable("share1", "schema1", "region").files.head
      val id = PresignedUrlCache.fileId(stale)
      val spec = PresignedUrlCache.RefreshSpec(profile,
        "share1", "schema1", "region", None, Nil, None, None)
      PresignedUrlCache.register(id, stale.url, spec)
      PresignedUrlCache.register("other-file", "http://x/other", spec)
      // hold the refresh POST open for 2s; reads of OTHER cached
      // entries must not queue behind it (the old code held the map
      // monitor across the network call — executor-wide stall)
      server.queryDelayMs = 2000
      val refreshed = new java.util.concurrent.atomic.AtomicReference[String]
      val t = new Thread(() =>
        refreshed.set(PresignedUrlCache.refresh(id, stale.url)))
      t.start()
      Thread.sleep(300) // let the refresh enter the POST
      val t0 = System.nanoTime()
      assert(PresignedUrlCache.urlFor("other-file") == "http://x/other")
      val waitedMs = (System.nanoTime() - t0) / 1e6
      t.join(10000)
      assert(waitedMs < 500,
        f"cached lookup blocked $waitedMs%.0f ms behind an in-flight refresh")
      assert(refreshed.get != null && refreshed.get.contains("sig=fresh"))
    } finally {
      server.queryDelayMs = 0
      server.stop()
      PresignedUrlCache.clear()
    }
  }

  test("a deliberately skewed join goes through AQE's skew split") {
    // q54 measures skew and SkewJoin salts known-skewed keys; this
    // pins the third leg of the skew story — AQE's runtime skew-split
    // actually fires on a hot key, so an UNANTICIPATED skew (no
    // salting in the plan) still cannot produce a straggler task.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      // shrink AQE's skew thresholds so test-sized data exhibits the
      // 100 TB shape: one hot key ~100× the median partition
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "24k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
      val left = spark.range(22000).select(
        when(col("id") < 20000, lit(0L)).otherwise(col("id")).as("k"),
        lpad(col("id").cast("string"), 120, "x").as("payload"))
      val right = spark.range(2200).select(col("id").as("k"),
        (col("id") * 7).as("dim"))
      val joined = left.join(right, "k")
      // execute THIS plan (count() builds a separate execution whose
      // final adaptive plan we couldn't inspect)
      val qe = joined.queryExecution
      assert(qe.toRdd.count() == 20000) // only the hot key matches
      val top = qe.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // collect() treats AQE query stages as leaves; descend into them
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect { case n => n }.flatMap {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            s +: allNodes(s.plan)
          case n => Seq(n)
        }
      val plan = top
      val smj = allNodes(top).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a shuffled join, got:\n$plan")
      assert(smj.exists {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          j.isSkewJoin
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.isSkewJoin
        case _ => false
      }, s"AQE did not skew-split the hot key:\n$plan")
      // and the split is real: the skewed side's shuffle read fans the
      // hot partition out over multiple tasks
      val reads = allNodes(top).collect {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
      }
      assert(reads.exists(_.partitionSpecs.count {
        case p: org.apache.spark.sql.execution.PartialReducerPartitionSpec =>
          true
        case _ => false
      } > 1), "no partial-reducer specs — the hot partition was not split")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("GraftBridge targets the running Spark minor line") {
    assert(org.apache.spark.SPARK_VERSION.startsWith(
      org.apache.spark.sql.GraftBridge.TargetSparkVersionPrefix + "."),
      s"Spark ${org.apache.spark.SPARK_VERSION} no longer matches the " +
        s"bridge's pinned ${org.apache.spark.sql.GraftBridge.TargetSparkVersionPrefix}.x " +
        "— re-audit GraftBridge's private[sql] usage before bumping the pin")
  }

  test("_df collapse: appends + CDF folds leave one row per (term, " +
      "bucket), zero-sum terms drop, and serving is bit-identical") {
    import graft.operators.{LayoutMaintenance, Retrieval}
    import spark.implicits._
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_dfcollapse_guard_${spark.sparkContext.applicationId}").getPath
    val B = 16
    Retrieval.bm25IndexWrite(docs, out, buckets = B)
    // three streaming-shaped appends + one departure fold: the delta
    // log now holds several signed rows per common term
    (1 to 3).foreach { i =>
      Retrieval.bm25LayoutAppend(spark, out,
        docs.filter(col("doc_id") % 13 === i.toLong)
          .select((col("doc_id") + i * 10000L).as("doc_id"), col("text")))
    }
    Retrieval.bm25LayoutApplyCdf(spark, out,
      docs.filter(col("doc_id") === 2L)
        .select(col("doc_id"), col("text"),
          lit("delete").as("_change_type")))
    val preRows = spark.read.parquet(out + "_df").count()
    val multi = spark.read.parquet(out + "_df")
      .groupBy("bkt", "fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(multi > 0, "fixture must accumulate multi-row terms for " +
      "the collapse to be observable")
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val before = Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10)
      .collect().toSet
    val beforeCapped = Retrieval.bm25TopKFromLayout(spark, out, queries,
      k = 10, dfCapPpm = Some(400000L)).collect().toSet
    LayoutMaintenance.collapseBm25Df(spark, out)
    // row pin: N folds followed by a collapse leave ≤ 1 row per
    // (term, bucket), and strictly fewer rows than before
    val dfAfter = spark.read.parquet(out + "_df")
    assert(dfAfter.groupBy("bkt", "fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count() == 0,
      "collapse left multi-row terms")
    assert(dfAfter.count() < preRows,
      s"collapse did not shrink the log ($preRows rows before)")
    assert(dfAfter.filter(col("ddf") <= 0).count() == 0,
      "zero/negative-sum terms must drop at collapse")
    // stored df ≡ postings-derived df, and serving unchanged (both
    // capped and uncapped probes)
    val stored = dfAfter.groupBy("fp").agg(sum("ddf").as("df"))
    val derived = spark.read.parquet(out)
      .filter(col("fp").isNotNull)
      .groupBy("fp").agg(count(lit(1)).as("df"))
    assert(stored.exceptAll(derived).count() == 0 &&
      derived.exceptAll(stored).count() == 0,
      "collapsed _df drifted from the postings")
    assert(Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10)
      .collect().toSet == before, "uncapped serving changed")
    assert(Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10,
      dfCapPpm = Some(400000L)).collect().toSet == beforeCapped,
      "capped serving changed")
    // the maintenance contract survives the collapse: a further
    // append keeps stored ≡ derived
    Retrieval.bm25LayoutAppend(spark, out,
      docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 90000L).as("doc_id"), col("text")))
    val stored2 = spark.read.parquet(out + "_df")
      .groupBy("fp").agg(sum("ddf").as("df")).filter(col("df") =!= 0)
    val derived2 = spark.read.parquet(out)
      .filter(col("fp").isNotNull)
      .groupBy("fp").agg(count(lit(1)).as("df"))
    assert(stored2.exceptAll(derived2).count() == 0 &&
      derived2.exceptAll(stored2).count() == 0,
      "_df drifted after a post-collapse append")
  }

  test("fold-sequence stamp: a fold killed between its data and meta " +
      "writes is detected at probe time and fsck heals it") {
    import graft.operators.Retrieval
    import spark.implicits._
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_foldseq_guard_${spark.sparkContext.applicationId}").getPath
    Retrieval.bm25IndexWrite(docs, out, buckets = 16)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    assert(Retrieval.bm25LayoutFsck(spark, out),
      "a freshly written layout must be fold-consistent")
    // write-order injection: capture the pre-fold _meta row, run a
    // real append (postings/_fwd/_docs/_df/intent all land), then
    // restore the OLD meta — byte-for-byte the on-disk state of a
    // fold killed between its last data write and its meta commit
    val preMeta = spark.read.parquet(out + "_meta").collect().head
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 9000L).as("doc_id"), col("text"))
    Retrieval.bm25LayoutAppend(spark, out, batch)
    Seq((preMeta.getLong(0), preMeta.getLong(1), preMeta.getLong(2),
        preMeta.getLong(3)))
      .toDF("buckets", "n_docs", "total_len", "fold_seq")
      .write.mode("overwrite").parquet(out + "_meta")
    // every probe and every further fold must now refuse loudly
    val e = intercept[IllegalStateException] {
      Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10)
    }
    assert(e.getMessage.contains("bm25LayoutFsck"),
      s"staleness error must name the recovery: ${e.getMessage}")
    intercept[IllegalStateException] {
      Retrieval.bm25LayoutAppend(spark, out, batch)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25LayoutFsck(spark, out) // heal = false refuses
    }
    // heal: every derived artifact rebuilds from the postings (which
    // DID land), so the healed layout serves exactly like a
    // from-scratch build over docs + batch
    assert(!Retrieval.bm25LayoutFsck(spark, out, heal = true))
    val healed = Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10)
      .collect().toSet
    val freshOut = out + "_fresh"
    Retrieval.bm25IndexWrite(docs.select("doc_id", "text")
      .unionByName(batch), freshOut, buckets = 16)
    val fresh = Retrieval.bm25TopKFromLayout(spark, freshOut, queries,
      k = 10).collect().toSet
    assert(healed == fresh, "healed layout serves differently from a " +
      "from-scratch build over the same corpus")
    // and the layout is fold-consistent again: further folds work
    Retrieval.bm25LayoutApplyCdf(spark, out,
      docs.filter(col("doc_id") === 4L)
        .select(col("doc_id"), col("text"),
          lit("delete").as("_change_type")))
    assert(Retrieval.bm25LayoutFsck(spark, out))
    // resubmit mode (round 19): the healed layout ALREADY holds the
    // crashed batch (its data writes landed before the injected
    // kill) — the old guidance's blind re-append would double-count
    // every artifact; resubmit = true anti-joins already-present doc
    // ids and must fold as a zero-delta no-op
    val preResubmit = Retrieval
      .bm25TopKFromLayout(spark, out, queries, k = 10).collect().toSet
    val preDocsN = spark.read.parquet(out + "_docs").count()
    Retrieval.bm25LayoutAppend(spark, out, batch, resubmit = true)
    val docIds = spark.read.parquet(out + "_docs").select("doc_id")
    assert(docIds.count() == preDocsN &&
      docIds.count() == docIds.distinct().count(),
      "resubmit duplicated already-landed docs")
    assert(Retrieval.bm25TopKFromLayout(spark, out, queries, k = 10)
      .collect().toSet == preResubmit,
      "zero-delta resubmit changed serving")
    assert(Retrieval.bm25LayoutFsck(spark, out),
      "resubmit fold must close its own bracket")
    // ...while a batch of genuinely NEW docs still lands in full
    // through the same mode (resubmit of a batch that never landed)
    val lost = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 12000L).as("doc_id"), col("text"))
    Retrieval.bm25LayoutAppend(spark, out, lost, resubmit = true)
    assert(spark.read.parquet(out + "_docs").count() ==
      preDocsN + lost.count(), "lost-batch resubmit dropped docs")
    assert(Retrieval.bm25LayoutFsck(spark, out))
  }

  test("bm25MetaRebuild verifies its precondition: a layout whose _df " +
      "append never landed refuses the narrow recovery loudly") {
    import graft.operators.Retrieval
    import spark.implicits._
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bm25_metapre_guard_${spark.sparkContext.applicationId}")
      .getPath
    Retrieval.bm25IndexWrite(docs, out, buckets = 4)
    // capture the pre-fold _df and _meta, run a real append, then
    // restore BOTH — byte-for-byte the state of a fold killed between
    // its _docs append and its _df append (postings landed, df did
    // not): the narrow census rebuild would stamp the layout
    // consistent while every capped probe reads wrong df
    val preDf = spark.read.parquet(out + "_df")
      .localCheckpoint(eager = true)
    val preMeta = spark.read.parquet(out + "_meta").collect().head
    Retrieval.bm25LayoutAppend(spark, out,
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 7000L).as("doc_id"), col("text")))
    preDf.write.option("partitionOverwriteMode", "static")
      .partitionBy("bkt").mode("overwrite").parquet(out + "_df")
    Seq((preMeta.getLong(0), preMeta.getLong(1), preMeta.getLong(2),
        preMeta.getLong(3)))
      .toDF("buckets", "n_docs", "total_len", "fold_seq")
      .write.mode("overwrite").parquet(out + "_meta")
    val e = intercept[IllegalStateException] {
      Retrieval.bm25MetaRebuild(spark, out)
    }
    assert(e.getMessage.contains("bm25LayoutFsck"),
      s"the refusal must name the full recovery: ${e.getMessage}")
    // the full fsck remains the recovery, after which the narrow
    // rebuild's precondition holds again
    assert(!Retrieval.bm25LayoutFsck(spark, out, heal = true))
    Retrieval.bm25MetaRebuild(spark, out)
    assert(Retrieval.bm25LayoutFsck(spark, out))
  }

  test("vector-layout fold stamp: a crashed fold is refused at probe " +
      "time, an acknowledged re-run converges, a rebuild always enters") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_knnfold_guard_${spark.sparkContext.applicationId}").getPath
    val base = embs.select("vec_id", "embedding")
      .localCheckpoint(eager = true)
    Similarity.knnIndexWrite(base, out, numCentroids = 4)
    val cents = spark.read.parquet(out + "_cents")
      .localCheckpoint(eager = true)
    val queries = embs.filter(col("vec_id") < 3)
    Similarity.knnTopKFromLayout(spark, out, queries, k = 5).collect()
    // write-order injection: capture the pre-fold _fold_done, run a
    // real CDF fold (every artifact lands), then restore the OLD
    // done-marker — byte-for-byte the on-disk state of a fold killed
    // between its last artifact write and its done-commit
    val preDone = spark.read.parquet(out + "_fold_done")
      .localCheckpoint(eager = true)
    val cdf = embs.filter(col("vec_id").isin(4L, 17L))
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
      .unionByName(embs.filter(col("vec_id") === 6L)
        .select((col("vec_id") + 5000).as("vec_id"), col("embedding"),
          lit("insert").as("_change_type")))
      .localCheckpoint(eager = true)
    Similarity.knnLayoutApplyCdf(spark, out, cdf)
    preDone.write.mode("overwrite").parquet(out + "_fold_done")
    // every probe and every unacknowledged fold must refuse loudly
    val e = intercept[IllegalStateException] {
      Similarity.knnTopKFromLayout(spark, out, queries, k = 5)
    }
    assert(e.getMessage.contains("mid-fold"),
      s"staleness error must name the condition: ${e.getMessage}")
    intercept[IllegalStateException] {
      Similarity.knnLayoutApplyCdf(spark, out, cdf)
    }
    intercept[IllegalStateException] {
      Similarity.knnCentroidRetrain(spark, out, numCentroids = 4)
    }
    // acknowledged re-run of the SAME batch converges: the upsert
    // anti-set replaces the already-landed arrival instead of
    // duplicating it, and the done-commit restores consistency
    Similarity.knnLayoutApplyCdf(spark, out, cdf, resumeCrashed = true)
    val members = spark.read.parquet(out).select("neighbor_id")
    assert(members.count() == members.distinct().count(),
      "re-applied fold duplicated an arrival")
    val served = Similarity.knnTopKFromLayout(spark, out, queries,
      k = 5).collect().toSet
    // the recovered layout serves exactly like a from-scratch build
    // of the folded membership under the same frozen centroids
    val out2 = out + "_fresh"
    Similarity.knnIndexWrite(base.filter(!col("vec_id").isin(4L, 17L))
      .unionByName(embs.filter(col("vec_id") === 6L)
        .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))),
      out2, numCentroids = 4, centsIn = Some(cents))
    val fresh = Similarity.knnTopKFromLayout(spark, out2, queries,
      k = 5).collect().toSet
    assert(served == fresh, "recovered layout serves differently " +
      "from a from-scratch build over the folded membership")
    // a full index write is itself the rebuild recovery: it must
    // enter WITHOUT the acknowledgment even on a crashed layout
    preDone.write.mode("overwrite").parquet(out + "_fold_done")
    Similarity.knnIndexWrite(base, out, numCentroids = 4)
    Similarity.knnTopKFromLayout(spark, out, queries, k = 5).collect()
  }

  test("fold-stamp marker corruption is refused loudly — including " +
      "BOTH markers corrupt, which must not pass as a legacy layout") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_foldcorrupt_guard_${spark.sparkContext.applicationId}")
      .getPath
    val base = embs.select("vec_id", "embedding")
      .localCheckpoint(eager = true)
    Similarity.knnIndexWrite(base, out, numCentroids = 4)
    val queries = embs.filter(col("vec_id") < 3)
    Similarity.knnTopKFromLayout(spark, out, queries, k = 5).collect()
    // present-but-unparsable marker: the path EXISTS (fs.exists true)
    // but is not parquet — a crash during the marker write itself
    def corrupt(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      val f = new java.io.File(path)
      rm(f)
      java.nio.file.Files.write(f.toPath,
        "not a parquet footer".getBytes("UTF-8"))
      ()
    }
    // an INT32 intent is ill-typed, not absent: the driver-side read
    // names the marker dir, and the guard refuses it as corrupt
    import spark.implicits._
    Seq(0).toDF("fold_seq").write.mode("overwrite")
      .parquet(out + "_fold_intent")
    val e0 = intercept[IllegalStateException](operators.DriverParquet
      .headLong(spark, out + "_fold_intent", "fold_seq"))
    assert(e0.getMessage.contains(out + "_fold_intent"),
      s"an ill-typed marker must name its dir: ${e0.getMessage}")
    val e0b = intercept[IllegalStateException] {
      Similarity.knnTopKFromLayout(spark, out, queries, k = 5).collect()
    }
    assert(e0b.getMessage.contains("corrupt"),
      s"an INT32 intent must be named corrupt: ${e0b.getMessage}")
    // corrupt intent beside a valid done → loud (pre-round-19
    // behavior, kept)
    corrupt(out + "_fold_intent")
    val e1 = intercept[IllegalStateException] {
      Similarity.knnTopKFromLayout(spark, out, queries, k = 5).collect()
    }
    assert(e1.getMessage.contains("corrupt"),
      s"corrupt intent must be named: ${e1.getMessage}")
    // corrupt BOTH markers → must STILL refuse: until round 19 this
    // read as 'no markers → legacy unstamped layout' and the guard
    // silently failed open
    corrupt(out + "_fold_done")
    val e2 = intercept[IllegalStateException] {
      Similarity.knnTopKFromLayout(spark, out, queries, k = 5).collect()
    }
    assert(e2.getMessage.contains("corrupt"),
      s"corrupt markers must be named: ${e2.getMessage}")
    // the full index write is the rebuild recovery — it enters over
    // corrupt markers, regenerates every artifact, re-stamps both
    Similarity.knnIndexWrite(base, out, numCentroids = 4)
    Similarity.knnTopKFromLayout(spark, out, queries, k = 5).collect()
    ()
  }

  test("sq8 fold stamp: crashed stats refresh refused at probe time, " +
      "acknowledged re-run restores grid-consistent serving") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sq8fold_guard_${spark.sparkContext.applicationId}").getPath
    val membership = embs
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      .localCheckpoint(eager = true)
    Similarity.sq8IndexWrite(membership, out, numCentroids = 8)
    val queries = embs.filter(col("vec_id") < 3)
    // inject the refresh crash signature: a real refresh lands, then
    // the OLD _stats and _fold_done return — codes encoded under a
    // grid that was never persisted, exactly what a kill between the
    // re-encode and the _stats write leaves behind
    val preStats = spark.read.parquet(out + "_stats")
      .localCheckpoint(eager = true)
    val preDone = spark.read.parquet(out + "_fold_done")
      .localCheckpoint(eager = true)
    Similarity.sq8StatsRefresh(spark, out, membership)
    preStats.write.mode("overwrite").parquet(out + "_stats")
    preDone.write.mode("overwrite").parquet(out + "_fold_done")
    intercept[IllegalStateException] {
      Similarity.ivfSq8TopKFromLayout(spark, out, queries, k = 10)
    }
    intercept[IllegalStateException] {
      Similarity.sq8StatsRefresh(spark, out, membership)
    }
    // acknowledged re-run re-derives grid + codes from raw vectors
    Similarity.sq8StatsRefresh(spark, out, membership,
      resumeCrashed = true)
    val served = Similarity.ivfSq8TopKFromLayout(spark, out, queries,
      k = 10, nprobe = 2)
    val out2 = out + "_fresh"
    Similarity.sq8IndexWrite(membership, out2, numCentroids = 8,
      centsOpt = Some(spark.read.parquet(out + "_cents")
        .localCheckpoint(eager = true)))
    val scratch = Similarity.ivfSq8TopKFromLayout(spark, out2, queries,
      k = 10, nprobe = 2)
    assert(served.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(served).count() == 0,
      "recovered sq8 layout serves differently from a from-scratch " +
        "build of the same membership")
  }

  test("pq fold stamp: crashed CDF fold refused at probe time, " +
      "acknowledged re-run equals an uncrashed fold of the same batch") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqfold_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.pqIndexWrite(embs, out, numCentroids = 8, m = 4)
    val queries = embs.filter(col("vec_id") < 3)
    val cdf = embs.filter(col("vec_id").isin(4L, 17L))
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
      .unionByName(embs.filter(col("vec_id") === 6L)
        .select((col("vec_id") + 5000).as("vec_id"), col("embedding"),
          lit("insert").as("_change_type")))
      .localCheckpoint(eager = true)
    // crash signature: the fold lands, then the OLD done-marker returns
    val preDone = spark.read.parquet(out + "_fold_done")
      .localCheckpoint(eager = true)
    Similarity.pqLayoutApplyCdf(spark, out, cdf, m = 4)
    preDone.write.mode("overwrite").parquet(out + "_fold_done")
    intercept[IllegalStateException] {
      Similarity.ivfPqTopKFromLayout(spark, out, queries, k = 10, m = 4)
    }
    intercept[IllegalStateException] {
      Similarity.pqLayoutApplyCdf(spark, out, cdf, m = 4)
    }
    // acknowledged re-run converges (upsert anti-set) and serves
    // exactly like an UNCRASHED fold of the same batch on a twin
    // layout (training is deterministic, so the twins start identical)
    Similarity.pqLayoutApplyCdf(spark, out, cdf, m = 4,
      resumeCrashed = true)
    val members = spark.read.parquet(out).select("vec_id")
    assert(members.count() == members.distinct().count(),
      "re-applied pq fold duplicated an arrival")
    val out2 = out + "_twin"
    Similarity.pqIndexWrite(embs, out2, numCentroids = 8, m = 4)
    Similarity.pqLayoutApplyCdf(spark, out2, cdf, m = 4)
    val served = Similarity.ivfPqTopKFromLayout(spark, out, queries,
      k = 10, m = 4)
    val twin = Similarity.ivfPqTopKFromLayout(spark, out2, queries,
      k = 10, m = 4)
    assert(served.exceptAll(twin).count() == 0 &&
      twin.exceptAll(served).count() == 0,
      "recovered pq layout serves differently from an uncrashed fold")
  }

  test("vec list census: row totals equal the layout membership and " +
      "ppm shares tile to one") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_veccensus_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.sq8IndexWrite(embs, out, numCentroids = 8)
    val census = Similarity.vecListCensus(spark, out, "cid").collect()
    val members = spark.read.parquet(out).count()
    assert(census.map(_.getLong(1)).sum == members,
      "census rows do not cover the membership")
    val shareSum = census.map(_.getLong(2)).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - census.length,
      s"ppm shares sum to $shareSum over ${census.length} lists")
  }

  test("pq codebook retrain: membership invariant enforced, distortion " +
      "census drops, serving equals a from-scratch build under the " +
      "frozen coarse quantizer") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqretrain_guard_${spark.sparkContext.applicationId}").getPath
    Similarity.pqIndexWrite(embs, out, numCentroids = 8, m = 4)
    val coarse = spark.read.parquet(out + "_coarse")
      .localCheckpoint(eager = true)
    def books(p: String): Seq[org.apache.spark.sql.DataFrame] = {
      val ba = spark.read.parquet(p + "_books")
        .localCheckpoint(eager = true)
      (0 until 4).map(s => ba.filter(col("sid") === s)
        .select("cid", "cemb", "cc"))
    }
    val oldBooks = books(out)
    // drifted arrivals fold in under the FROZEN books — exactly the
    // regime the census exists to flag
    val drifted = embs.filter(col("vec_id") % 31 === 7)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * lit(1.25) + lit(0.1)).as("embedding"))
      .localCheckpoint(eager = true)
    Similarity.pqLayoutApplyCdf(spark, out,
      drifted.select(col("vec_id"), col("embedding"),
        lit("insert").as("_change_type")), m = 4)
    val membership = embs
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      .unionByName(drifted)
      .localCheckpoint(eager = true)
    def totalAvg(bs: Seq[org.apache.spark.sql.DataFrame]): Long =
      Similarity.pqDriftCensus(coarse, bs, membership)
        .agg(sum("avg_dist2_fp")).head().getLong(0)
    val before = totalAvg(oldBooks)
    // a stale membership (missing the arrivals) must be rejected
    val e = intercept[IllegalArgumentException] {
      Similarity.pqCodebookRetrain(spark, out, embs)
    }
    assert(e.getMessage.contains("membership"))
    Similarity.pqCodebookRetrain(spark, out, membership, m = 4)
    // the retrained books cover the drifted membership strictly better
    val after = totalAvg(books(out))
    assert(after < before,
      s"post-retrain distortion $after did not drop from $before")
    // serving equals a from-scratch build of the same membership
    // under the same frozen coarse quantizer
    val out2 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqretrain_guard2_${spark.sparkContext.applicationId}").getPath
    Similarity.pqIndexWrite(membership, out2, numCentroids = 8, m = 4,
      centsOpt = Some(coarse))
    val queries = embs.filter(col("vec_id") < 3)
    val served = Similarity.ivfPqTopKFromLayout(spark, out, queries,
      k = 10, nprobe = 2, m = 4)
    val scratch = Similarity.ivfPqTopKFromLayout(spark, out2, queries,
      k = 10, nprobe = 2, m = 4)
    assert(served.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(served).count() == 0,
      "retrained pq layout serves differently from a from-scratch " +
        "build of the same membership under the frozen coarse")
  }
}

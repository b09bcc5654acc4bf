package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Round-12 wave 54: the embedding-quality head (FineWeb-Edu pattern)
  * plus the round's determinism guards (srmCheck arm coverage,
  * sprtDecision unique sequence, bradleyTerry sorted folds). */
class Wave54Spec extends AnyFunSuite with Matchers with SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("EmbedQuality: committed head has 64 6dp weights") {
    EmbedQuality.weights.length shouldBe EmbedQuality.dim
    all(EmbedQuality.weights.map(w =>
      math.abs(w * 1e6 - math.rint(w * 1e6)))) should be < 1e-6
  }

  test("EmbedQuality: in-sample accuracy at sf0.001 matches the " +
    "trainer fixture (0.646)") {
    // the exact quantity scripts/gen_embed_quality_fixture.py prints:
    // 6dp-rounded score thresholded at 0.5 vs label <= 4, on the
    // corpus the head was trained on
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val acc = EmbedQuality.scoreVectors(e, "vec_id", "embedding")
      .join(e.select(col("vec_id"), (col("label") <= 4).as("y")),
        Seq("vec_id"))
      .agg(avg(when(col("pred_keep") === col("y"), 1.0).otherwise(0.0)))
      .as[Double].head()
    acc shouldBe 0.646 +- 1e-9
  }

  test("EmbedQuality: scores are 6dp probabilities in [0, 1]") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s = EmbedQuality.scoreVectors(e, "vec_id", "embedding")
      .agg(min("p_keep_embed"), max("p_keep_embed")).head()
    s.getDouble(0) should be >= 0.0
    s.getDouble(1) should be <= 1.0
  }

  test("EmbedQuality.scoreVectors: map-only — zero exchanges " +
    "(weights are inline literals, no side table)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = EmbedQuality.scoreVectors(e, "vec_id", "embedding")
      .queryExecution.executedPlan.collect {
        case x: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => x
      }.size
    n shouldBe 0
  }

  test("EmbedQuality.headToHead: paired readout, both methods see " +
    "the same n") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val r = EmbedQuality.headToHead(docs, e, "doc_id", "text",
      "vec_id", "embedding", "label").collect()
    r.length shouldBe 2
    r.map(_.getLong(1)).distinct.length shouldBe 1
    all(r.map(_.getDouble(2))) should (be >= 0.0 and be <= 1.0)
  }

  test("nnGraph: undirected, distinct, layer-bounded edges") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val g = Similarity.nnGraph(e).cache()
    try {
      val n = g.count()
      g.distinct().count() shouldBe n
      // undirected: every edge's reverse is present
      val rev = g.select(col("dst").as("src"), col("src").as("dst"))
      g.except(rev).count() shouldBe 0
      g.filter(col("src") === col("dst")).count() shouldBe 0
    } finally g.unpersist()
  }

  test("nnGraphAuto: derives 4 planes on small corpora (identical " +
    "graph to the fixed-plane build) and more at scale") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val auto = Similarity.nnGraphAuto(e).collect().toSet
    val fixed = Similarity.nnGraph(e).collect().toSet
    auto shouldBe fixed
  }

  test("graphBeamSearch: walks a hop beyond the entry's own edges") {
    // hand graph: 0-1, 1-2 (chain). Vectors: 2 is the true nearest to
    // 0 but only reachable through 1. One round from self {0} reaches
    // {0,1}; two rounds reach {0,1,2} and rank 2 first.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.6f, 0.8f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val g = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val q = vecs.filter($"vec_id" === 0L)
    val one = Similarity.graphBeamSearch(vecs, q, g, k = 1,
      beamWidth = 4, rounds = 1).collect()
    one.map(_.getLong(1)) shouldBe Array(1L)
    val two = Similarity.graphBeamSearch(vecs, q, g, k = 1,
      beamWidth = 4, rounds = 2).collect()
    two.map(_.getLong(1)) shouldBe Array(2L)
  }

  test("graphBeamSearch: no cartesian/nested-loop join in the plan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = Similarity.graphBeamSearch(e, e.filter($"vec_id" < 10),
      Similarity.nnGraph(e), k = 5)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("graphAnnRecall: emits one bounded row per query") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val r = Similarity.graphAnnRecall(e, e.filter($"vec_id" < 10),
      Similarity.nnGraph(e), k = 5).collect()
    r.length shouldBe 10
    all(r.map(_.getDouble(2))) should (be >= 0.0 and be <= 1.0)
  }

  test("manifest lifecycle: append touches no historical file, " +
    "compact dedupes and shrinks, result == full rewrite") {
    val dir = java.nio.file.Files
      .createTempDirectory("wave54-manifest").toString
    val p = s"$dir/seen"
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).map(_.toSeq.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))).getOrElse(Nil)
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    }
    val a = (1 to 40).map(i => s"doc-$i").toDF("k")
    val b = (30 to 70).map(i => s"doc-$i").toDF("k")
    Manifests.writeSeenManifestPartitioned(a, "k", p)
    val before = files()
    Manifests.appendSeenManifest(spark, b, "k", p)
    val after = files()
    // history untouched: every pre-append file still present
    before.subsetOf(after) shouldBe true
    after.size should be > before.size
    // layout content == full rewrite of the union, duplicate-free
    val keys = spark.read.parquet(p).select("key_md5")
    keys.count() shouldBe 70
    keys.distinct().count() shouldBe 70
    // read before the compaction swap: `keys` lists the pre-swap files
    val appended = keys.collect().map(_.getString(0)).sorted
    Manifests.compactSeenManifest(spark, p)
    files().size should be < after.size
    spark.read.parquet(p).select("key_md5").collect().map(_.getString(0))
      .sorted shouldBe appended
  }

  test("manifest: sequential overlapping appends in one session stay " +
    "duplicate-free") {
    val dir = java.nio.file.Files
      .createTempDirectory("wave54-manifest-seq").toString
    val p = s"$dir/seen"
    Manifests.writeSeenManifestPartitioned(
      (1 to 40).map(i => s"doc-$i").toDF("k"), "k", p)
    // the second batch overlaps keys only the first append added: a
    // stale cached read of the manifest would append 60..70 again
    Manifests.appendSeenManifest(spark,
      (30 to 70).map(i => s"doc-$i").toDF("k"), "k", p)
    Manifests.appendSeenManifest(spark,
      (60 to 90).map(i => s"doc-$i").toDF("k"), "k", p)
    // the append released its read of the manifest instead of leaving
    // a cache of it behind
    val keys = spark.read.parquet(p).select("key_md5")
    TrackedCaches.isCached(keys) shouldBe false
    keys.count() shouldBe 90
    keys.distinct().count() shouldBe 90
  }

  test("bloom sidecar: persisted probe filters exactly like the " +
    "rebuilt-bloom path") {
    val dir = java.nio.file.Files
      .createTempDirectory("wave54-bloom").toString
    val seen = (1 to 50).map(i => s"u-$i").toDF("k")
    val batch = (40 to 90).map(i => s"u-$i").toDF("k")
    Manifests.writeSeenManifestPartitioned(seen, "k", s"$dir/seen")
    val m = spark.read.parquet(s"$dir/seen")
    Manifests.writeBloomSidecar(spark, m, s"$dir/bloom")
    val (bloom, n) = Manifests.readBloomSidecar(spark, s"$dir/bloom")
    n shouldBe 50
    val viaSidecar = Manifests
      .filterUnseenWithBloom(batch, "k", m, bloom)
      .collect().map(_.getString(0)).sorted
    val viaRebuild = Manifests.filterUnseen(batch, "k", m)
      .collect().map(_.getString(0)).sorted
    viaSidecar shouldBe viaRebuild
    viaSidecar shouldBe (51 to 90).map(i => s"u-$i").sorted.toArray
  }

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("ExactSubstr: a planted 12-token shared run is ONE maximal " +
    "match of length 12 (dupPassageStats sees 5 windows)") {
    val run = words("shared", 12)
    val df = Seq(
      (1L, s"${words("alpha", 10)} $run ${words("beta", 10)}"),
      (2L, s"${words("gamma", 10)} $run ${words("delta", 10)}"))
      .toDF("doc_id", "text")
    val r = ExactSubstr.maximalMatchStats(df, "doc_id", "text",
      minLen = 8, maxExtend = 8).collect()
    r.length shouldBe 1
    r.head.getLong(2) shouldBe 1L   // one maximal match, not 5
    r.head.getLong(3) shouldBe 12L  // true length recovered
    // the fixed-k sibling reports the same duplication as 5 sliding
    // 8-windows — correct for its contract, but lengthless
    val dp = Dedup.dupPassageStats(df, "doc_id", "text", k = 8)
      .filter($"dup_windows" > 0).collect()
    dp.map(_.getLong(2)).sum shouldBe 10L // 5 windows per doc
  }

  test("ExactSubstr: a run past minLen+maxExtend reports exactly the " +
    "cap (the visible truncation signal)") {
    val run = words("long", 30)
    val df = Seq(
      (1L, s"${words("a", 9)} $run ${words("b", 9)}"),
      (2L, s"${words("c", 9)} $run ${words("d", 9)}"))
      .toDF("doc_id", "text")
    val r = ExactSubstr.maximalMatchStats(df, "doc_id", "text",
      minLen = 8, maxExtend = 8).collect()
    r.head.getLong(3) shouldBe 16L
  }

  test("ExactSubstr: identical docs match once at the boundary " +
    "(left-maximality via null prev)") {
    val t = words("tok", 20)
    val df = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val r = ExactSubstr.maximalMatchStats(df, "doc_id", "text",
      minLen = 8, maxExtend = 16).collect()
    r.length shouldBe 1
    r.head.getLong(2) shouldBe 1L
    r.head.getLong(3) shouldBe 20L
  }

  test("ExactSubstr: the occupancy cap drops boilerplate grams " +
    "LOUDLY via droppedGrams") {
    val boiler = words("boil", 8)
    val df = (1L to 6L).map(i => (i, boiler)).toDF("doc_id", "text")
    val dropped = ExactSubstr.droppedGrams(df, "doc_id", "text",
      minLen = 8, maxOcc = 5L).collect()
    dropped.length shouldBe 1
    dropped.head.getLong(1) shouldBe 6L
    ExactSubstr.maximalMatchStats(df, "doc_id", "text",
      minLen = 8, maxOcc = 5L).count() shouldBe 0L
  }

  test("srmCheck: an observed arm missing from the designed weights " +
    "trips the witness probe") {
    val df = Seq("a", "a", "b", "rogue").toDF("arm")
    val e = intercept[IllegalArgumentException] {
      Stats.srmCheck(df, "arm", Seq("a" -> 0.5, "b" -> 0.5)).collect()
    }
    e.getMessage should include("rogue")
  }

  test("sprtDecision: duplicate sequence values trip the " +
    "determinism guard") {
    val df = Seq(("e1", 1L, true), ("e1", 1L, false), ("e1", 2L, true))
      .toDF("exp", "seq", "ok")
    val e = intercept[IllegalArgumentException] {
      Stats.sprtDecision(df, "exp", "seq", "ok", p0 = 0.5, p1 = 0.7)
        .collect()
    }
    e.getMessage should include("nondeterministic")
  }

  test("bradleyTerry: sorted-fold MM still ranks the dominant model " +
    "first with ratings summing to the model count") {
    val battles = Seq.tabulate(30) { i =>
      if (i % 3 == 0) ("m1", "m2", "b") else ("m1", "m2", "a")
    } ++ Seq.tabulate(10)(_ => ("m2", "m3", "a"))
    val r = Eval.bradleyTerry(battles.toDF("ma", "mb", "w"),
      "ma", "mb", "w").orderBy("rank").collect()
    r.head.getString(0) shouldBe "m1"
    r.map(_.getDouble(2)).sum shouldBe 3.0 +- 1e-4
  }
}

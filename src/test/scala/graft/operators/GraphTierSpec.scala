package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Tier-equality pins for the Graph driver tier (r15): every iterative
  * graph op must return BIT-IDENTICAL results whether the rounds run
  * locally (edge set under [[Graph.MaxDriverEdges]]) or distributed
  * (`maxDriverEdges = 0` forces the Spark loop). The BpeTrainSpec
  * tier-equality pattern: same randomized inputs through both tiers,
  * exact equality — doubles compared by value (they are 8dp-rounded on
  * both tiers, so == is exact), labels/counts by integer equality.
  * These trials are also the distributed loops' regression coverage
  * now that small-graph unit tests take the driver tier. */
class GraphTierSpec extends AnyFunSuite with Matchers with SparkSpec {
  import spark.implicits._

  private def randomEdges(rng: scala.util.Random, n: Int, m: Int)
      : Seq[(Long, Long)] =
    (1 to m).map { _ =>
      (1L + rng.nextInt(n), 1L + rng.nextInt(n))
    }.filter { case (a, b) => a != b }.distinct

  test("connectedComponents: driver tier == distributed loop " +
      "(8 trials, incl. capped maxIter)") {
    val rng = new scala.util.Random(151)
    (1 to 8).foreach { trial =>
      val edges = randomEdges(rng, 12, 16)
      if (edges.nonEmpty) {
        val maxIter = if (trial % 3 == 0) 1 else 25 // capped run too
        def run(cap: Long) =
          Graph.connectedComponents(edges.toDF("id_a", "id_b"),
              maxIter = maxIter, maxDriverEdges = cap)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        withClue(s"trial $trial maxIter=$maxIter (edges=$edges): ") {
          run(Graph.MaxDriverEdges) shouldBe run(0L)
        }
      }
    }
  }

  test("pageRank: driver tier == distributed loop (5 trials)") {
    val rng = new scala.util.Random(152)
    (1 to 5).foreach { trial =>
      val edges = randomEdges(rng, 10, 14)
      if (edges.nonEmpty) {
        def run(cap: Long) =
          Graph.pageRank(edges.toDF("id_a", "id_b"), iterations = 3,
              maxDriverEdges = cap)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
        withClue(s"trial $trial (edges=$edges): ") {
          run(Graph.MaxDriverEdges) shouldBe run(0L)
        }
      }
    }
  }

  test("personalizedPageRank: driver tier == distributed loop " +
      "(5 trials, off-graph seeds included)") {
    val rng = new scala.util.Random(153)
    (1 to 5).foreach { trial =>
      val edges = randomEdges(rng, 10, 14)
      if (edges.nonEmpty) {
        // seed set: some graph nodes plus one off-graph id
        val seeds = (Seq(1L + rng.nextInt(10), 1L + rng.nextInt(10))
          ++ (if (trial % 2 == 0) Seq(99L) else Nil)).distinct
        def run(cap: Long) =
          Graph.personalizedPageRank(edges.toDF("id_a", "id_b"),
              seeds.toDF("id"), iterations = 3, maxDriverEdges = cap)
            .collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
        withClue(s"trial $trial seeds=$seeds (edges=$edges): ") {
          run(Graph.MaxDriverEdges) shouldBe run(0L)
        }
      }
    }
  }

  test("kCore: driver tier == distributed loop " +
      "(5 trials, incl. too-small round budgets)") {
    val rng = new scala.util.Random(154)
    (1 to 5).foreach { trial =>
      val edges = randomEdges(rng, 10, 16)
      if (edges.nonEmpty) {
        val k = 2 + rng.nextInt(2)
        val rounds = if (trial % 2 == 0) 1 else 6 // early-stop budget too
        def run(cap: Long) =
          Graph.kCore(edges.toDF("id_a", "id_b"), k = k, rounds = rounds,
              maxDriverEdges = cap)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        withClue(s"trial $trial k=$k rounds=$rounds (edges=$edges): ") {
          run(Graph.MaxDriverEdges) shouldBe run(0L)
        }
      }
    }
  }

  test("kTruss: driver tier == distributed loop " +
      "(5 trials, incl. too-small round budgets)") {
    val rng = new scala.util.Random(155)
    (1 to 5).foreach { trial =>
      val edges = randomEdges(rng, 9, 18)
      if (edges.nonEmpty) {
        val rounds = if (trial % 2 == 0) 1 else 5
        def run(cap: Long) =
          Graph.kTruss(edges.toDF("id_a", "id_b"), k = 3, rounds = rounds,
              maxDriverEdges = cap)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        withClue(s"trial $trial rounds=$rounds (edges=$edges): ") {
          run(Graph.MaxDriverEdges) shouldBe run(0L)
        }
      }
    }
  }

  test("labelPropagation: driver tier == distributed loop " +
      "(5 trials, null labels, UTF8 tie-break, duplicate node rows)") {
    val rng = new scala.util.Random(156)
    (1 to 5).foreach { trial =>
      val edges = randomEdges(rng, 10, 14)
      if (edges.nonEmpty) {
        val labels = Seq("a", "b", "é", null)
        val nodes0 = (1L to 10L).map(i =>
          (i, labels(rng.nextInt(labels.length))))
        // duplicate one node row: the distributed join sees ROWS, the
        // tier must too
        val nodes = nodes0 ++ Seq(nodes0(rng.nextInt(nodes0.length)))
        def run(cap: Long) =
          Graph.labelPropagation(nodes.toDF("id", "label"),
              edges.toDF("id_a", "id_b"), iterations = 3,
              maxDriverEdges = cap)
            .collect()
            .map(r => (r.getLong(0),
              if (r.isNullAt(1)) null else r.getString(1)))
            .sortBy(_._1).toSeq
        withClue(s"trial $trial nodes=$nodes (edges=$edges): ") {
          run(Graph.MaxDriverEdges) shouldBe run(0L)
        }
      }
    }
  }

  test("maxDriverEdges = 0 takes the distributed loop even on an empty " +
      "graph") {
    def emptyFrame(fields: (String, DataType)*) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(fields.map { case (n, t) => StructField(n, t) }))
    // RDD-backed inputs, so only a driver-tier result (built from
    // driver arrays) has nothing but LocalRelation leaves
    val edges = emptyFrame("id_a" -> LongType, "id_b" -> LongType)
    val nodes = emptyFrame("id" -> LongType, "label" -> StringType)
    def driverBuilt(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    Seq[(String, Long => DataFrame)](
      "connectedComponents" -> (cap =>
        Graph.connectedComponents(edges, maxDriverEdges = cap)),
      "pageRank" -> (cap => Graph.pageRank(edges, maxDriverEdges = cap)),
      "kCore" -> (cap => Graph.kCore(edges, k = 2, maxDriverEdges = cap)),
      "kTruss" -> (cap => Graph.kTruss(edges, k = 3, maxDriverEdges = cap)),
      "labelPropagation" -> (cap =>
        Graph.labelPropagation(nodes, edges, maxDriverEdges = cap))
    ).foreach { case (op, run) =>
      withClue(s"$op: ") {
        driverBuilt(run(Graph.MaxDriverEdges)) shouldBe true
        val forced = run(0L)
        driverBuilt(forced) shouldBe false
        forced.count() shouldBe 0L
      }
    }
  }
}

package graft.graph

import org.apache.spark.JobCounter

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // threshold 0 forces the distributed fixpoint; default exercises the
  // driver-exact fast path — both must agree
  for ((label, thr) <- Seq(("driver path", Long.MaxValue), ("distributed path", 0L))) {

    s"transitiveClosure ($label)" should "close a chain" in {
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
      val closure = GraphOps.transitiveClosure(edges, smallGraphThreshold = thr)
        .as[(String, String)].collect().toSet
      closure shouldBe Set(
        ("a", "b"), ("b", "c"), ("c", "d"),
        ("a", "c"), ("b", "d"), ("a", "d"))
    }

    it should "handle branching and converge on cycles" in {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      val closure = GraphOps.transitiveClosure(edges, smallGraphThreshold = thr)
        .as[(Long, Long)].collect().toSet
      closure shouldBe (for (a <- 1L to 3L; b <- 1L to 3L) yield (a, b)).toSet
    }

    s"connectedComponents ($label)" should "label chains, isolated nodes, multiple components" in {
      // component {1,2,3,4} (a path), component {10,11}, isolated 99
      val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
      val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("id")
      val labels = GraphOps.connectedComponents(edges, Some(verts), smallGraphThreshold = thr)
        .as[(Long, Long)].collect().toMap
      labels shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 99L -> 99L)
    }

    it should "converge on a long path within the iteration budget" in {
      val n = 200
      val edges = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
      val labels = GraphOps.connectedComponents(edges, smallGraphThreshold = thr)
        .as[(Long, Long)].collect()
      labels.length shouldBe n + 1
      all(labels.map(_._2)) shouldBe 0L
    }

    s"components typed min ($label)" should "use numeric ordering for numeric ids" in {
      // "10" < "9" lexicographically — component must still be 9 (typed min)
      val edges = Seq((10L, 9L)).toDF("src", "dst")
      GraphOps.connectedComponents(edges, None, smallGraphThreshold = thr)
        .as[(Long, Long)].collect().toMap shouldBe Map(10L -> 9L, 9L -> 9L)
    }
  }

  "transitiveClosure on a small graph" should "gate on what committing the edges measured" in {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    var closure: Array[(String, String)] = null
    // the edge commit and the driver collect; no count or width-sample job
    JobCounter.jobsDuring(spark.sparkContext) {
      closure = GraphOps.transitiveClosure(edges).as[(String, String)].collect()
    } shouldBe 3
    closure.length shouldBe 6
  }

  "components with mixed-width integral ids" should "emit the widest type, never wrapping" in {
    // int src column, long dst values past Int range: the output must be
    // LongType (downcasting 5e9 to int would wrap to a plausible wrong id)
    val edges = Seq((1, 5000000000L), (2, 5000000000L)).toDF("src", "dst")
    val out = GraphOps.connectedComponents(edges, None)
    out.schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
    out.as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 5000000000L -> 1L)
  }

  "components with mixed string/numeric ids" should "emit string, not a corrupting downcast" in {
    // string edges + int-typed vertices: casting "a" into IntegerType
    // would null it — output must widen to string instead
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val verts = Seq(7).toDF("id")
    val out = GraphOps.connectedComponents(edges, Some(verts))
    out.schema("id").dataType shouldBe org.apache.spark.sql.types.StringType
    out.as[(String, String)].collect().toMap shouldBe
      Map("a" -> "a", "b" -> "a", "7" -> "7")
  }
}

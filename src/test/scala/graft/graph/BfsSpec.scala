package graft.graph

import org.apache.spark.JobCounter

import graft.SparkSpec

class BfsSpec extends SparkSpec {

  import spark.implicits._

  behavior of "Bfs.hopDistances"

  it should "compute hop layers from a single source" in {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val out = Bfs.hopDistances(e, Seq(1L).toDF("id"), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out shouldBe Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2)
  }

  it should "take the minimum distance over multiple sources" in {
    val e = Seq((1L, 2L), (2L, 3L), (9L, 3L)).toDF("src", "dst")
    val out = Bfs.hopDistances(e, Seq(1L, 9L).toDF("id"), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out(3L) shouldBe 1 // via 9, not 2 via 1→2→3
    out(9L) shouldBe 0
  }

  it should "stop at maxHops and omit unreachable vertices" in {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("src", "dst")
    val out = Bfs.hopDistances(e, Seq(1L).toDF("id"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out shouldBe Map(1L -> 0, 2L -> 1, 3L -> 2)
  }

  it should "handle cycles without revisiting" in {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Bfs.hopDistances(e, Seq(1L).toDF("id"), maxHops = 50)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out shouldBe Map(1L -> 0, 2L -> 1, 3L -> 2)
  }

  it should "read an empty frontier off its commit, not run a job per hop for it" in {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val src = Seq(1L).toDF("id")
    def jobs(hops: Int): Int =
      JobCounter.jobsDuring(spark.sparkContext) { Bfs.hopDistances(e, src, hops) }
    // a hop costs the jobs of its two commits (next frontier, settled set)
    // and no emptiness check
    (1 to 3).map(h => jobs(h) - jobs(h - 1)) shouldBe Seq(5, 5, 5)
  }

  behavior of "Bfs.boundedShortestPaths"

  it should "relax min-weight paths within the round bound" in {
    // 1→2 (w1), 2→3 (w1), 1→3 (w5): 3 is reachable at cost 5 in one
    // round, improved to 2 by the second
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L))
      .toDF("src", "dst", "w")
    val one = Bfs.boundedShortestPaths(e, Seq(1L).toDF("id"), maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    one shouldBe Map(1L -> 0L, 2L -> 1L, 3L -> 5L)
    val two = Bfs.boundedShortestPaths(e, Seq(1L).toDF("id"), maxRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    two shouldBe Map(1L -> 0L, 2L -> 1L, 3L -> 2L)
  }

  it should "match driver Dijkstra when rounds cover the diameter" in {
    val rnd = new scala.util.Random(9)
    val edges = (0 until 300).map(_ => (rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong, (1 + rnd.nextInt(9)).toLong))
    val got = Bfs.boundedShortestPaths(edges.toDF("src", "dst", "w"),
        Seq(0L).toDF("id"), maxRounds = 45)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver reference (Dijkstra)
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3))).toMap
    val dist = scala.collection.mutable.Map(0L -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, 0L))(
      Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u))
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (!dist.contains(v) || d + w < dist(v)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
    }
    got shouldBe dist.toMap
  }

  it should "match driver BFS on random graphs" in {
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed)
      val edges = (0 until 400).map(_ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      val got = Bfs.hopDistances(edges.toDF("src", "dst"),
        Seq(0L).toDF("id"), maxHops = 60)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // reference BFS
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map(0L -> 0)
      val queue = scala.collection.mutable.Queue(0L)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        adj.getOrElse(u, Nil).foreach { v =>
          if (!dist.contains(v)) { dist(v) = dist(u) + 1; queue += v }
        }
      }
      got shouldBe dist.toMap
    }
  }
}

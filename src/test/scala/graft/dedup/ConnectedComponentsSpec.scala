package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.collection.mutable

/** Every case runs through BOTH paths of [[ConnectedComponents]]: the
  * default bound takes the one-task union-find, a bound of -1 forces the
  * star rounds (even on the empty graph). The paths must agree with each
  * other and with the in-memory oracle — these specs are the star rounds'
  * only coverage, since every oracle query's graph fits one task. */
class ConnectedComponentsSpec extends SparkSpec {

  private val ForceStars = -1L

  /** In-memory union-find oracle. */
  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def toDF(edges: Seq[(Long, Long)]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    edges.toDF("u", "v")
  }

  private def labels(cc: DataFrame): Map[Long, Long] =
    cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Components on both paths; asserts they agree and returns them. */
  private def runBoth(edges: DataFrame): Map[Long, Long] = {
    val oneTask = labels(ConnectedComponents.run(edges))
    val stars = labels(ConnectedComponents.runBounded(edges, 50, ForceStars))
    assert(oneTask === stars, "one-task and star-round paths disagree")
    oneTask
  }

  private def runCC(edges: Seq[(Long, Long)]): Map[Long, Long] = runBoth(toDF(edges))

  /** Spark jobs `body` submits, counted by a listener on a private job group. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"cc-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "connected components spec")
    try {
      val out = body
      org.apache.spark.graftshim.ListenerBusShim.drain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("long path graph (worst case for label propagation)") {
    val n = 500L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val got = runCC(edges)
    assert(got.size === n)
    assert(got.values.toSet === Set(0L))
  }

  test("mixed graph: stars, cliques, isolated-by-self-loop, two paths") {
    val star = (1L to 50L).map(i => (1000L, 1000L + i))
    val clique = for (i <- 0L to 9L; j <- (i + 1) to 9L) yield (2000L + i, 2000L + j)
    val path1 = (0L until 20L).map(i => (3000L + i, 3001L + i))
    val selfLoop = Seq((4000L, 4000L))
    val edges = star ++ clique ++ path1 ++ selfLoop
    val got = runCC(edges)
    val want = oracle(edges.filter { case (a, b) => a != b }) ++ Map(4000L -> 4000L)
    assert(got === want)
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = runCC(edges)
      assert(got === oracle(edges), s"trial $trial")
    }
  }

  test("deterministic across input partitioning") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    val a = runBoth(toDF(edges).repartition(1))
    val b = runBoth(toDF(edges).repartition(13))
    assert(a === b)
    assert(a === oracle(edges))
  }

  test("empty edge set") {
    assert(runCC(Seq.empty).isEmpty)
  }

  test("null endpoints are dropped on both paths") {
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None), (Some(2L), Some(5L)))
      .toDF("u", "v")
    assert(runBoth(edges) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
  }

  test("edge count exactly at the bound takes one task; bound + 1 takes the star rounds") {
    val bound = 12L
    val atBound = (0L until bound).map(i => (100L - i, 99L - i)) // a 13-node chain
    val overBound = atBound :+ ((7L, 7L)) // one self-loop more
    val (oneTask, oneTaskJobs) = jobsOf(
      ConnectedComponents.runBounded(toDF(atBound), 50, bound))
    val (stars, starJobs) = jobsOf(
      ConnectedComponents.runBounded(toDF(overBound), 50, bound))
    assert(labels(oneTask) === oracle(atBound))
    assert(labels(stars) === oracle(atBound) + (7L -> 7L))
    assert(oneTaskJobs <= 2, s"one-task path ran $oneTaskJobs jobs")
    assert(starJobs > 3, s"bound + 1 edges ran only $starJobs jobs: not the star rounds")
  }

  test("one-task path runs at most 3 Spark jobs on a ~2k-edge graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(2000)((rnd.nextInt(3000).toLong, rnd.nextInt(3000).toLong))
    // materialized like the pipeline's edge checkpoints
    val input = toDF(edges).localCheckpoint(true)
    // the result is an eager checkpoint, so a caller's first count is
    // part of the bill: the edge count, the union-find job, then that count
    val (got, jobs) = jobsOf { val cc = ConnectedComponents.run(input); cc.count(); cc }
    assert(jobs <= 3, s"one-task path ran $jobs jobs")
    assert(labels(got) === oracle(edges))
  }

  test("planted mega-component: 10^5-leaf hub plus a 2,000-hop chain, min-id labels") {
    val hub = 5000000L
    val leaves = (1L to 100000L).map(i => (hub, hub + i))
    // the chain's head is the component's min id, 2,000 hops from the
    // hub: every leaf's label has to travel the whole chain
    val chain = (0L until 2000L).map(i => (i, i + 1))
    val edges = leaves ++ chain :+ ((2000L, hub))
    assert(edges.size.toLong <= ConnectedComponents.LocalEdgeBound)
    val got = runCC(edges)
    assert(got.size === 100000 + 1 + 2001)
    assert(got.values.toSet === Set(0L))
    assert(got === oracle(edges))
  }

  test("localComponents: self-loop-only nodes, duplicates, buffers grown past the size hint") {
    val chain = (40L until 70L).map(i => (i + 1, i))
    val edges = Seq((9L, 9L), (3L, 1L), (1L, 3L), (3L, 1L), (-5L, 3L), (8L, 6L), (6L, 8L)) ++ chain
    val got = ConnectedComponents.localComponents(edges.iterator, sizeHint = 0).toMap
    assert(got === Map(9L -> 9L, 1L -> -5L, 3L -> -5L, -5L -> -5L, 6L -> 6L, 8L -> 6L) ++
      (40L to 70L).map(_ -> 40L))
  }
}

package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** [[Dedup.connectedComponents]] against a union-find reference computed
  * on the driver, over seeded random graphs: forests, stars, cliques and
  * chains longer than 2^maxIters, each edge in a random orientation. Every
  * graph runs on the one-partition path (the union-find pass is the whole
  * answer), on the multi-partition propagation loop, and on both with a
  * reliable `checkpointDir`. */
class ConnectedComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val shufflePartitions = "5"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("connected-components-spec")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Disjoint forest, star, clique and chain components over sparse
    * random ids (some negative), with duplicate edges and self-loops. */
  private def randomGraph(seed: Long, chainLen: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val ids = Iterator.continually(rnd.nextLong() % 1000000000000L).distinct
    def orient(a: Long, b: Long) = if (rnd.nextBoolean()) (a, b) else (b, a)
    val forest = {
      val nodes = ids.take(60).toVector
      (1 until nodes.size).filter(_ => rnd.nextDouble() < 0.8)
        .map(i => orient(nodes(i), nodes(rnd.nextInt(i))))
    }
    val stars = (0 until 3).flatMap { _ =>
      val c = ids.next()
      ids.take(2 + rnd.nextInt(10)).map(orient(c, _)).toSeq
    }
    val cliques = (0 until 3).flatMap { _ =>
      val ns = ids.take(2 + rnd.nextInt(5)).toVector
      for (i <- ns.indices; j <- 0 until i) yield orient(ns(i), ns(j))
    }
    val chains = (0 until 2).flatMap { _ =>
      val ns = ids.take(chainLen).toVector
      ns.sliding(2).map(p => orient(p(0), p(1))).toSeq
    }
    val edges = forest ++ stars ++ cliques ++ chains
    val loops = Seq.fill(2)(ids.next()).map(x => (x, x))
    rnd.shuffle(edges ++ edges.take(5) ++ loops)
  }

  /** Driver-side reference: component = minimum id reachable. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def labels(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length === rows.length, "one label row per id")
    rows.toMap
  }

  private def roundTables(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft_cc_"))
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .map(_.getName).filter(_.startsWith("round_"))

  test("components equal a driver union-find: one partition, many partitions, checkpointDir") {
    val s = spark
    import s.implicits._
    val maxIters = 3
    for (seed <- 1L to 3L) {
      val edges = randomGraph(seed, chainLen = (1 << maxIters) * 4 + seed.toInt)
      val expect = reference(edges)
      // scattered round-robin: every path sees the edges in random order
      val pairs = edges.toDF("id_a", "id_b").repartition(8)
      // one partition: the union-find pass is final, so even chains
      // longer than 2^maxIters need no loop round
      assert(labels(Dedup.connectedComponents(pairs, maxIters = maxIters)) === expect,
        s"seed $seed, one partition")
      // forced multi-partition: the propagation loop, 20 rounds
      assert(labels(Dedup.connectedComponents(pairs, 20, None, edgesPerPartition = 1L)) ===
        expect, s"seed $seed, many partitions")
      for (epp <- Seq(Dedup.ccEdgesPerPartition, 1L)) {
        val dir = Files.createTempDirectory("cc-prop").toString
        val mi = if (epp == 1L) 20 else maxIters
        assert(labels(Dedup.connectedComponents(pairs, mi, Some(dir), epp)) === expect,
          s"seed $seed, checkpointDir, $epp edges per partition")
        assert(roundTables(dir).length === 1, s"seed $seed: ${roundTables(dir)}")
      }
    }
  }

  test("int and string id columns label like long ids") {
    val s = spark
    import s.implicits._
    val edges = randomGraph(11L, chainLen = 20)
    // re-key onto small non-negative ints that keep the id order
    val rank = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted.zipWithIndex.toMap
    val expect = reference(edges.map(e => (rank(e._1).toLong, rank(e._2).toLong)))
    val ints = edges.map(e => (rank(e._1), rank(e._2))).toDF("id_a", "id_b")
    for (epp <- Seq(Dedup.ccEdgesPerPartition, 1L)) {
      val got = Dedup.connectedComponents(ints, 20, None, epp)
      assert(got.schema.map(_.dataType.typeName) === Seq("integer", "integer"))
      assert(got.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap === expect)
    }
    // strings take the loop (no union-find seed); min is lexicographic,
    // so zero-padded ranks keep the numeric answer
    val strs = ints.select(format_string("%06d", col("id_a")).as("id_a"),
      format_string("%06d", col("id_b")).as("id_b"))
    val got = Dedup.connectedComponents(strs).collect()
      .map(r => r.getString(0).toLong -> r.getString(1).toLong).toMap
    assert(got === expect)
  }

  test("a one-partition call leaves spark.sql.shuffle.partitions alone, for its jobs and a concurrent query") {
    val s = spark
    import s.implicits._
    val key = "spark.sql.shuffle.partitions"
    val pairs = randomGraph(21L, chainLen = 40).toDF("id_a", "id_b").repartition(8)
    val seenByOther = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ran = new java.util.concurrent.CountDownLatch(1)
    @volatile var stop = false
    val other = new Thread(() => {
      while (!stop) {
        seenByOther.add(spark.conf.get(key))
        spark.range(200).groupBy(col("id") % 7).count().collect()
        ran.countDown()
      }
    })
    val log = new JobLog(spark)
    try {
      val (_, jobs) = log.during {
        other.start()
        ran.await()
        val out = Dedup.connectedComponents(pairs).collect()
        stop = true
        other.join()
        out
      }
      val confs = jobs.flatMap(_.conf(key))
      assert(confs.nonEmpty, "jobs carry the session's SQL conf")
      assert(confs.forall(_ == shufflePartitions), s"job confs: ${confs.distinct}")
      assert(seenByOther.size >= 2)
      assert(seenByOther.toArray.forall(_ == shufflePartitions),
        s"concurrent reader saw: ${seenByOther.toArray.distinct.mkString(", ")}")
      assert(spark.conf.get(key) === shufflePartitions)
    } finally { stop = true; other.join(); log.close() }
  }
}

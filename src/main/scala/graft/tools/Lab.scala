package graft.tools

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.operators.Dedup

/** Cold timing and a per-stage profile of named [[SparkEntry.queries]]: one
  * fresh JVM, one session, each rep timed end to end (`count()` forces the
  * full plan) after the Dedup persist registry and the cache manager are
  * drained, so no rep inherits another's caches. This is the number
  * `graft.Bench`'s warm min-of-N loop cannot give.
  *
  * Per query it prints one cold summary line, then one stage table per rep
  * from a listener (the UI stays disabled): wall, task time, CPU, GC,
  * input, shuffle read/write and spill per stage, plus the task spread —
  * max/median task ms and max/median shuffle-read records — so "where did
  * the time go, and did one task carry it" is answerable from a headless
  * run.
  *
  * Run: {{{ sbt "runMain graft.tools.Lab <query> [query ...] [--sf dir] [--reps N] [--partitions N] [--conf key=value]" }}}
  * `--sf` defaults to `$SPARK_GRAFT_SF_DIR`, the corpus `graft.Bench` reads.
  */
object Lab {
  final case class Args(queries: Seq[String], sfDir: String, reps: Int,
      partitions: Int, confs: Seq[(String, String)])

  private val usage = "usage: Lab <query> [query ...] [--sf dir] [--reps N] " +
    "[--partitions N] [--conf key=value ...]"

  /** Pure argument parse: every bad input throws IllegalArgumentException
    * here, before a session starts. */
  def parseArgs(args: Seq[String], isQuery: String => Boolean,
      defaultSf: Option[String]): Args = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)
    def positive(flag: String, v: String): Int =
      v.toIntOption.filter(_ > 0).getOrElse(bad(s"$flag wants a positive integer, got '$v'"))
    val names = ArrayBuffer[String]()
    val confs = ArrayBuffer[(String, String)]()
    var sf = defaultSf
    var reps = 1
    // 32 (= cores) suits the sf0.1/sf1 rungs; the sf100 rung's 10M-doc
    // pair/CC stages need partitions sized to the data, not the cores
    var partitions = 32
    @scala.annotation.tailrec
    def loop(rest: List[String]): Unit = rest match {
      case Nil =>
      case flag :: tail if flag.startsWith("--") =>
        if (!Set("--sf", "--reps", "--partitions", "--conf")(flag)) bad(s"unknown flag $flag")
        val v = tail.headOption.filterNot(_.startsWith("--")).getOrElse(bad(s"$flag needs a value"))
        flag match {
          case "--sf" => sf = Some(v)
          case "--reps" => reps = positive(flag, v)
          case "--partitions" => partitions = positive(flag, v)
          case _ => v.split("=", 2) match {
            case Array(k, x) if k.nonEmpty => confs += (k -> x)
            case _ => bad(s"--conf wants key=value, got '$v'")
          }
        }
        loop(tail.tail)
      case name :: tail =>
        if (!isQuery(name)) bad(s"unknown query '$name'")
        names += name
        loop(tail)
    }
    loop(args.toList)
    if (names.isEmpty) bad("no query named")
    Args(names.toSeq, sf.getOrElse(bad("no corpus: pass --sf dir or set SPARK_GRAFT_SF_DIR")),
      reps, partitions, confs.toSeq)
  }

  final case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long,
      taskMs: Long, cpuMs: Long, gcMs: Long, inputMB: Double, shReadMB: Double,
      shWriteMB: Double, spillMB: Double, maxTaskMs: Long, medTaskMs: Long,
      maxShReadRecs: Long, medShReadRecs: Long)

  /** One listener for the stage table: stage totals from stage completion,
    * the task spread from task ends (each task's run ms and shuffle-read
    * records), joined per stage on read. */
  final class StageProfile extends SparkListener {
    private val stages = TrieMap[Int, SparkListenerStageCompleted]()
    private val tasks = TrieMap[Int, ArrayBuffer[(Long, Long)]]()
    private val events = new AtomicLong

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (t.taskMetrics != null) {
      val buf = tasks.getOrElseUpdate(t.stageId, ArrayBuffer[(Long, Long)]())
      buf.synchronized {
        buf += ((t.taskMetrics.executorRunTime, t.taskMetrics.shuffleReadMetrics.recordsRead))
      }
      events.incrementAndGet()
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages(s.stageInfo.stageId) = s
      events.incrementAndGet()
    }

    def clear(): Unit = { stages.clear(); tasks.clear() }

    /** Listener events arrive asynchronously and the bus is private to
      * Spark, so wait until no event has arrived for 300 ms (bounded at
      * 5 s so a wedged bus cannot hang the run). */
    def settle(): Unit = {
      val t0 = System.nanoTime()
      var last = -1L
      while (events.get() != last && (System.nanoTime() - t0) / 1e9 < 5.0) {
        last = events.get()
        Thread.sleep(300)
      }
    }

    def rows: Seq[StageRow] = stages.values.toSeq.sortBy(_.stageInfo.stageId).map { s =>
      val i = s.stageInfo
      val m = i.taskMetrics
      val spread = tasks.get(i.stageId).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
      val ms = spread.map(_._1).sorted
      val recs = spread.map(_._2).sorted
      def maxMed(xs: Seq[Long]) = if (xs.isEmpty) (0L, 0L) else (xs.last, xs(xs.size / 2))
      val (maxMs, medMs) = maxMed(ms)
      val (maxRecs, medRecs) = maxMed(recs)
      val mb = 1048576.0
      StageRow(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
        (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(-1L),
        m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.inputMetrics.bytesRead / mb,
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / mb,
        m.shuffleWriteMetrics.bytesWritten / mb,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / mb,
        maxMs, medMs, maxRecs, medRecs)
    }
  }

  private def printTable(rows: Seq[StageRow]): Unit = {
    println(f"${"stage"}%-5s ${"tasks"}%5s ${"wall_ms"}%8s ${"task_ms"}%8s ${"cpu_ms"}%8s " +
      f"${"gc_ms"}%6s ${"in_MB"}%8s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill"}%6s " +
      f"${"tmax"}%6s ${"tmed"}%6s ${"rmax"}%9s ${"rmed"}%9s  name")
    rows.foreach { r =>
      println(f"${r.id}%-5d ${r.tasks}%5d ${r.wallMs}%8d ${r.taskMs}%8d ${r.cpuMs}%8d " +
        f"${r.gcMs}%6d ${r.inputMB}%8.1f ${r.shReadMB}%7.1f ${r.shWriteMB}%7.1f ${r.spillMB}%6.1f " +
        f"${r.maxTaskMs}%6d ${r.medTaskMs}%6d ${r.maxShReadRecs}%9d ${r.medShReadRecs}%9d  ${r.name}")
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = try parseArgs(argv.toSeq, SparkEntry.queries.contains, sys.env.get("SPARK_GRAFT_SF_DIR"))
    catch { case e: IllegalArgumentException =>
      System.err.println(s"${e.getMessage}\n$usage")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    a.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // JVM/footer warmup so the first rep is not startup noise; corpora
    // without lineitem (the sf100 documents rung) warm on what they have
    Seq("lineitem", "documents").map(t => new java.io.File(s"${a.sfDir}/$t.parquet"))
      .find(_.exists()).foreach(f => spark.read.parquet(f.getPath).count())

    val profile = new StageProfile
    spark.sparkContext.addSparkListener(profile)
    try a.queries.foreach { n =>
      val runs = (1 to a.reps).map { _ =>
        Dedup.unpersistAll(spark)
        spark.sharedState.cacheManager.clearCache()
        profile.settle()
        profile.clear()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, a.sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        profile.settle()
        (rows, wall, profile.rows)
      }
      println(f"$n%-28s rows=${runs.head._1}%-10d cold=${runs.map(r => f"${r._2}%.2f").mkString(",")} s")
      runs.zipWithIndex.foreach { case ((rows, wall, stages), i) =>
        println(f"=== $n rep ${i + 1}: total $wall%.2f s, $rows rows ===")
        printTable(stages)
      }
    } finally {
      Dedup.unpersistAll(spark)
      spark.stop()
    }
  }
}

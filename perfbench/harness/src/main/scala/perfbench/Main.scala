package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `items` is the work it completed
  * (rows, documents or requests); `fields` carries what the independent
  * checker needs (output paths, collected answers). */
final case class Op(kind: String, ms: Double, items: Long, fields: Map[String, Any] = Map.empty)

/** A benchmark workload over pre-generated inputs. */
trait Workload {
  /** Set-up a deployment pays before its first operation, beyond Spark
    * start (index builds). Repeated so `setup_s` can take a median. */
  def prepare(rep: Int): Unit

  /** One untimed pass through every operation kind (JIT, footer caches). */
  def warmup(): Unit

  /** The `i`-th timed operation. Everything inside is on the clock. */
  def op(i: Int, tr: Tracer): Op

  /** Runs after each operation, off the clock. */
  def after(op: Op): Unit = ()

  /** Per-layer metrics of the traced phase. */
  def layers(tr: Tracer, probe: Probe, ops: Seq[Op]): Map[String, Double]

  /** Fewest operations a measured phase runs, whatever its duration. */
  def minOps: Int = 1
}

/** Benchmark JVM: starts Spark, sets the workload up, runs the timed
  * closed loop (and, with `--trace 1`, a traced loop after it) and writes
  * every timing and answer to `--result` for the checker. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val params = a.getOrElse("params", "").split(",").filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    Jvm.install()

    val in = a("inputs")
    val w: Workload = a("workload") match {
      case "export" => new Export(spark, in, work, params)
      case "import" => new Import(spark, in, work, params)
      case "neardup_retrieval" => new Interleaved(Seq(
        new NearDup(spark, s"$in/neardup", work, params) -> "neardup",
        new Retrieval(spark, s"$in/retrieval", work, params) -> "request"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timeS(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val prepareS = (0 until 3).map(i => timeS(w.prepare(i)))
    val warmupS = timeS(w.warmup())

    var opIndex = 0
    val heap = ArrayBuffer.empty[Double]
    def loop(tr: Tracer): (Seq[Op], Double) = {
      val ops = ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      var lastSample = t0
      // stop before an operation that would likely end past the window
      def more: Boolean = ops.size < w.minOps || {
        val typical = if (ops.isEmpty) 0.0 else Probe.median(ops.map(_.ms).toSeq) / 1000
        (System.nanoTime() - t0) / 1e9 + typical / 2 < seconds
      }
      while (more) {
        val t = System.nanoTime()
        // an operation that throws is a failed operation, not a failed run
        val o = try tr("op") { w.op(opIndex, tr) } catch {
          case NonFatal(e) => Op("error", (System.nanoTime() - t) / 1e6, 0L, Map("error" -> e.toString))
        }
        opIndex += 1
        ops += o
        if (o.kind != "error") w.after(o)
        if (System.nanoTime() - lastSample > 2e9) {
          heap += Jvm.liveHeapMb()
          lastSample = System.nanoTime()
        }
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      heap += Jvm.liveHeapMb()
      (ops.toSeq, wallMs)
    }

    val (ops, _) = loop(new Tracer(false, "", spark.sparkContext))
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "ready_epoch_ms" -> readyMs,
      "prepare_s" -> prepareS,
      "warmup_s" -> warmupS,
      "live_heap_mb" -> heap.toSeq,
      "ops" -> ops.map(opJson))

    if (trace) {
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      Jvm.resetMaxAfterGc()
      val gc0 = Jvm.gcMs
      val tr = new Tracer(true, a.getOrElse("run", "run"), spark.sparkContext)
      val (tops, wallMs) = loop(tr)
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      val n = tops.size.toDouble
      val st = probe.stages.values.toSeq
      val layers = scala.collection.mutable.LinkedHashMap[String, Double](
        "spark.jobs" -> probe.jobs.size / n,
        "spark.stages" -> st.size / n,
        "spark.tasks" -> st.map(_.tasks).sum / n,
        "spark.executor_cpu_ms" -> st.map(_.cpuNs).sum / 1e6 / n,
        "spark.cpu_util" -> st.map(_.cpuNs).sum / 1e6 / (wallMs * cores),
        "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0 / n,
        "spark.spill_mb" -> st.map(_.spill).sum / 1048576.0 / n,
        "spark.gc_ms" -> st.map(_.gcMs).sum / n,
        "spark.task_skew_max_over_median" -> Probe.skew(st),
        "spark.input_mb" -> st.map(_.inBytes).sum / 1048576.0 / n,
        "spark.output_mb" -> st.map(_.outBytes).sum / 1048576.0 / n,
        "jvm.gc_ms" -> (Jvm.gcMs - gc0) / n,
        "jvm.heap_after_gc_mb" -> Jvm.maxAfterGcMb)
      layers ++= w.layers(tr, probe, tops)
      val self = tr.selfMs
      val spansFile = new File(s"$work/spans.jsonl")
      val pw = new PrintWriter(spansFile, UTF_8.name)
      try tr.all.foreach { s =>
        pw.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "ms" -> s.ms, "self_ms" -> self(s.id))))
      } finally pw.close()
      val selfByName = tr.all.groupBy(_.name).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / n }
      result ++= Seq(
        "traced_ops" -> tops.map(opJson),
        "layers" -> layers,
        "span_self_ms_per_op" -> selfByName,
        "spans_file" -> spansFile.getPath)
    }

    val out = new PrintWriter(new File(a("result")), UTF_8.name)
    try out.print(Json.render(result)) finally out.close()
    spark.stop()
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("kind" -> o.kind, "ms" -> o.ms, "items" -> o.items) ++ o.fields
}

package perfbench

import java.io.{File, OutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.{Deflater, ZipInputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Curation, Dedup, Similarity}
import graft.sources.csv.CsvSingleFile
import graft.xlsx.{CellValue, ExcelDate, XlsxReader, XlsxWriter, ZipRandom}

private object Util {
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def med(xs: Seq[Double]): Double = Probe.median(xs)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }

  /** Spans named `name`, in the order they closed. */
  def spans(tr: Tracer, name: String): Seq[Span] = tr.all.filter(_.name == name)

  final class Counting extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }
}

import Util._

/** `export`: one lineitem-shaped table written three ways. */
final class Export(spark: SparkSession, in: String, work: String, p: Map[String, String])
    extends Workload {
  private val rows = p("rows").toLong
  private val kinds = Seq("xlsx", "xlsx1", "csvzst")
  private var df: DataFrame = _
  override def minOps: Int = kinds.size

  override def prepare(rep: Int): Unit = df = spark.read.parquet(s"$in/table")

  private def write(kind: String, out: String, tr: Tracer, df: DataFrame = df): Unit = kind match {
    case "xlsx" => tr("xlsx.sink.save") {
      df.write.format("xlsx").option("header", "true").mode("overwrite").save(out)
    }
    case "xlsx1" => tr("xlsx.sink.save_single") {
      df.write.format("xlsx").option("header", "true").option("singleFile", "true")
        .mode("overwrite").save(s"$out/book.xlsx")
    }
    case "csvzst" => tr("csv.sink.write") {
      CsvSingleFile.write(df, s"$out/data.csv.zst", Map("compression" -> "zstd", "header" -> "true"))
    }
  }

  // two passes over a sixth of the table warm the same code paths for a
  // third of the time one full pass would take
  override def warmup(): Unit = for (_ <- 0 until 2; k <- kinds) {
    val out = s"$work/warm/$k"
    write(k, out, new Tracer(false, "", spark.sparkContext),
      df.where(pmod(col("l_orderkey"), lit(6)) === 0))
    delete(new File(out))
  }

  override def op(i: Int, tr: Tracer): Op = {
    val kind = kinds(i % kinds.size)
    val out = s"$work/out/op$i-$kind"
    val (_, ms) = timeMs(write(kind, out, tr))
    Op(kind, ms, rows, Map("out" -> out))
  }

  override def layers(tr: Tracer, probe: Probe, ops: Seq[Op]): Map[String, Double] = {
    def sink(name: String): (Double, Double, Double) = {
      val ss = spans(tr, name)
      val jobMs = ss.map(s => Probe.jobSpanMs(probe.jobsIn(tr.subtree(s.id))))
      val stitch = ss.zip(jobMs).map { case (s, j) => s.ms - j }
      val skew = Probe.skew(ss.flatMap(s => probe.stagesIn(tr.subtree(s.id))))
      (med(jobMs), med(stitch), skew)
    }
    val (xJob, xStitch, xSkew) = sink("xlsx.sink.save_single")
    val (_, _, dSkew) = sink("xlsx.sink.save")
    val (cJob, cStitch, _) = sink("csv.sink.write")
    val csvBytes = ops.filter(_.kind == "csvzst").map(o =>
      new File(s"${o.fields("out")}/data.csv.zst").length.toDouble / rows)
    Map(
      "xlsx.sink.job_ms" -> xJob,
      "xlsx.sink.stitch_ms" -> xStitch,
      "xlsx.sink.task_skew" -> math.max(xSkew, dSkew),
      "csv.sink.job_ms" -> cJob,
      "csv.sink.stitch_ms" -> cStitch,
      "csv.sink.bytes_per_row" -> med(csvBytes)) ++ writerMicro()
  }

  /** Single-thread format layer: the table's first rows through
    * `XlsxWriter.writeRowTyped` into a counting sink, and the JDK
    * `Deflater` alone over the same sheet XML at the writer's level. */
  private def writerMicro(): Map[String, Double] = {
    val sample = df.limit(100000).collect()
    val cells: Array[Seq[CellValue]] = sample.map(r => r.toSeq.map {
      case null => CellValue.Empty
      case v: java.lang.Long => CellValue.IntVal(v)
      case v: java.lang.Integer => CellValue.IntVal(v.toLong)
      case v: java.math.BigDecimal => CellValue.FloatVal(v.doubleValue)
      case v: java.lang.Double => CellValue.FloatVal(v)
      case v: java.sql.Date => CellValue.DateTime(ExcelDate.fromDate(v.toLocalDate).toDouble)
      case v: java.time.LocalDate => CellValue.DateTime(ExcelDate.fromDate(v).toDouble)
      case v => CellValue.Str(v.toString)
    })
    def writeAll(out: OutputStream, level: Int): Unit = {
      val w = new XlsxWriter(out, level)
      w.addSheet("Sheet1")
      cells.foreach(c => w.writeRowTyped(c))
      w.close()
    }
    val level = 6
    val runs = (0 until 3).map { _ =>
      val c = new Counting
      val (_, ms) = timeMs(writeAll(c, level))
      (ms, c.n)
    }
    val writerMs = med(runs.map(_._1))
    val stored = new java.io.ByteArrayOutputStream()
    writeAll(stored, 0)
    val xml = {
      val zin = new ZipInputStream(new java.io.ByteArrayInputStream(stored.toByteArray))
      var e = zin.getNextEntry
      while (e != null && !e.getName.startsWith("xl/worksheets/")) e = zin.getNextEntry
      zin.readAllBytes()
    }
    val buf = new Array[Byte](1 << 16)
    val deflateMs = med((0 until 3).map { _ =>
      timeMs {
        val d = new Deflater(level, true)
        d.setInput(xml)
        d.finish()
        while (!d.finished()) d.deflate(buf)
        d.end()
      }._2
    })
    Map(
      "xlsx.writer.rows_per_s_1thread" -> cells.length / (writerMs / 1000),
      "xlsx.writer.bytes_per_row" -> runs.head._2.toDouble / cells.length,
      "xlsx.writer.deflate_share" -> deflateMs / writerMs)
  }
}

/** `import`: foreign workbooks (shared strings, styled dates, booleans,
  * sparse cells) read with a declared schema into an aggregate. */
final class Import(spark: SparkSession, in: String, work: String, p: Map[String, String])
    extends Workload {
  private val rowsOf = Map("parts" -> p("parts_rows").toLong, "single" -> p("single_rows").toLong)
  private val kinds = Seq("parts", "single")
  private val single = s"$in/single/book.xlsx"
  override def minOps: Int = kinds.size
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("category", StringType), StructField("amount", DoubleType),
    StructField("event_date", DateType), StructField("active", BooleanType),
    StructField("note", StringType)))

  override def prepare(rep: Int): Unit = ()

  private def query(kind: String, tr: Tracer): Seq[Seq[String]] = {
    val df = tr("xlsx.scan.load") {
      val r = spark.read.format("xlsx").option("header", "true").schema(schema)
      if (kind == "parts") r.load(s"$in/parts")
      else r.option("splitBytes", p("split_bytes")).load(single)
    }
    tr("xlsx.scan.aggregate") {
      df.groupBy(col("category")).agg(
        count(lit(1)), count(col("note")), sum(when(col("active"), 1).otherwise(0)),
        round(sum(col("amount")), 2), min(col("event_date")), max(col("event_date")),
        sum(col("id"))).collect()
    }.map(_.toSeq.map(v => String.valueOf(v))).toSeq
  }

  /** Users read a received file once: a new modification time keeps the
    * reader's process-wide shared-strings cache from serving the next
    * operation, so every operation pays the shared-strings load. */
  private def touch(kind: String): Unit = {
    val files = if (kind == "parts") new File(s"$in/parts").listFiles.toSeq else Seq(new File(single))
    val t = System.currentTimeMillis()
    files.foreach(_.setLastModified(t))
  }

  // operations are short, so two passes per kind bring the JIT closer to
  // steady state than one
  override def warmup(): Unit = for (_ <- 0 until 2; k <- kinds) {
    touch(k)
    query(k, new Tracer(false, "", spark.sparkContext))
  }

  override def op(i: Int, tr: Tracer): Op = {
    val kind = kinds(i % kinds.size)
    val (ans, ms) = timeMs(query(kind, tr))
    Op(kind, ms, rowsOf(kind), Map("answer" -> ans))
  }

  override def after(op: Op): Unit = touch(op.kind)

  override def layers(tr: Tracer, probe: Probe, ops: Seq[Op]): Map[String, Double] = {
    // op spans close in operation order, so they pair with `ops` by index
    val singles = spans(tr, "op").zip(ops).filter(_._2.kind == "single").map(_._1)
    val per = singles.map { o =>
      val ids = tr.subtree(o.id)
      val load = tr.all.find(s => s.parent == o.id && s.name == "xlsx.scan.load").get
      val jobs = probe.jobsIn(ids)
      val first = probe.stagesIn(ids).headOption
      val planMs = if (jobs.isEmpty) 0.0 else (jobs.map(_.startMs).min - load.startMs).toDouble
      (planMs, first.map(_.tasks.toDouble).getOrElse(0.0), first.map(s => Probe.skew(Seq(s))).getOrElse(1.0))
    }
    Map(
      "xlsx.scan.plan_ms" -> med(per.map(_._1)),
      "xlsx.scan.partitions" -> med(per.map(_._2)),
      "xlsx.scan.task_skew" -> med(per.map(_._3))) ++ readerMicro()
  }

  /** Single-thread format layer over the large foreign workbook. */
  private def readerMicro(): Map[String, Double] = {
    val sheetEntry = "xl/worksheets/sheet1.xml"
    val inflate = (0 until 3).map { _ =>
      val src = ZipRandom.SeekableInput.forFile(single)
      val e = ZipRandom.entries(src).find(_.name == sheetEntry).get
      val buf = new Array[Byte](1 << 16)
      val (n, ms) = timeMs {
        val s = ZipRandom.openEntry(src, e)
        var total = 0L
        var k = s.read(buf)
        while (k >= 0) { total += k; k = s.read(buf) }
        s.close()
        total
      }
      n / 1048576.0 / (ms / 1000)
    }
    val decode = (0 until 3).map { _ =>
      val (n, ms) = timeMs {
        val it = XlsxReader.forFile(single).rows("Sheet1")
        var k = 0L
        while (it.hasNext) { it.next(); k += 1 }
        k
      }
      n / (ms / 1000)
    }
    val sst = (0 until 3).map { _ =>
      val r = XlsxReader.forFile(single)
      timeMs(r.sharedStrings.size)
    }
    Map(
      "xlsx.reader.inflate_mb_per_s" -> med(inflate),
      "xlsx.reader.rows_per_s_1thread" -> med(decode),
      "xlsx.reader.sst_load_ms" -> med(sst.map(_._2)),
      "xlsx.reader.sst_entries" -> sst.head._1.toDouble)
  }
}

/** `neardup`: n-gram Jaccard pairs, then one survivor per component. */
final class NearDup(spark: SparkSession, in: String, work: String, p: Map[String, String])
    extends Workload {
  private val docs = p("docs").toLong
  private var corpus: DataFrame = _

  override def prepare(rep: Int): Unit =
    corpus = spark.read.parquet(s"$in/corpus").select(col("id"), col("text"))

  private def run(tr: Tracer, corpus: DataFrame = corpus): (Array[Long], Long) =
    if (!tr.enabled) {
      val pairs = Dedup.ngramJaccardPairs(corpus, "id", "text", k = 3, threshold = 0.5)
      (Dedup.keepOnePerComponent(corpus, "id", pairs).select("id").collect().map(_.getLong(0)), -1L)
    } else {
      val (pairs, n) = tr("dedup.pairs") {
        val p = Dedup.ngramJaccardPairs(corpus, "id", "text", k = 3, threshold = 0.5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        (p, p.count())
      }
      try {
        val ids = tr("dedup.cc") {
          Dedup.keepOnePerComponent(corpus, "id", pairs).select("id").collect().map(_.getLong(0))
        }
        (ids, n)
      } finally { pairs.unpersist(false); () }
    }

  // replicas share the base id modulo 8, so this keeps whole near-dup
  // groups: an eighth of the corpus, same plan shapes
  override def warmup(): Unit = {
    run(new Tracer(false, "", spark.sparkContext), corpus.where(pmod(col("id"), lit(8)) === 0))
    drain()
  }

  private def drain(): Unit = {
    Dedup.unpersistAll(spark)
    spark.catalog.clearCache()
  }

  override def op(i: Int, tr: Tracer): Op = {
    val ((ids, pairs), ms) = timeMs(run(tr))
    val out = s"$work/out/op$i-survivors.txt"
    new File(out).getParentFile.mkdirs()
    Files.write(Paths.get(out), ids.sorted.mkString("\n").getBytes("UTF-8"))
    Op("neardup", ms, docs, Map("survivors" -> out, "pairs" -> pairs, "n_survivors" -> ids.length))
  }

  override def after(op: Op): Unit = drain()

  override def layers(tr: Tracer, probe: Probe, ops: Seq[Op]): Map[String, Double] = {
    def agg(name: String) = spans(tr, name).map { s =>
      val st = probe.stagesIn(tr.subtree(s.id))
      (s.ms, st.size.toDouble, st.map(_.shuffleWrite).sum / 1048576.0)
    }
    val pairs = agg("dedup.pairs")
    val cc = agg("dedup.cc")
    val survivors = med(ops.map(_.fields("n_survivors").asInstanceOf[Int].toDouble))
    Map(
      "dedup.pairs_ms" -> med(pairs.map(_._1)),
      "dedup.pairs_out" -> med(ops.map(_.fields("pairs").asInstanceOf[Long].toDouble)),
      "dedup.pairs_shuffle_mb" -> med(pairs.map(_._3)),
      "dedup.cc_ms" -> med(cc.map(_._1)),
      "dedup.cc_stages" -> med(cc.map(_._2)),
      "dedup.cc_shuffle_mb" -> med(cc.map(_._3)),
      "dedup.survivors" -> survivors,
      "dedup.survivor_ratio" -> survivors / docs)
  }
}

/** `retrieval`: one closed-loop client; each request is a BM25 probe of
  * the stored postings index and an IVF probe of the stored vector index,
  * fused by reciprocal rank. */
final class Retrieval(spark: SparkSession, in: String, work: String, p: Map[String, String])
    extends Workload {
  private val nlist = p("nlist").toInt
  private val depth = 20
  private lazy val requests: Array[Row] = spark.read.json(s"$in/requests.jsonl")
    .select(col("rid").cast("long"), col("qid").cast("long"),
      col("terms").cast("array<string>"), col("vec").cast("array<double>"))
    .orderBy("rid").collect()
  private val qSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("v", ArrayType(DoubleType))))
  private var index = ""
  private val buildS = scala.collection.mutable.ArrayBuffer.empty[Double]
  // the loop starts at request 0; warm-up uses the stream's tail
  private val warmupRequests = 2

  override def prepare(rep: Int): Unit = {
    val path = s"$work/index$rep"
    val (_, ms) = timeMs {
      val docs = spark.read.parquet(s"$in/corpus")
      Curation.writeBm25Index(docs.select(col("id"), col("text")), "id", "text", s"$path/bm25",
        buckets = 16)
      Similarity.writeIvfIndex(docs.select(col("id"), col("vec").cast("array<double>").as("vec")),
        "id", "vec", s"$path/ivf", nlist = nlist)
    }
    buildS += ms / 1000
    index = path
  }

  private def request(r: Row, tr: Tracer): Seq[Long] = {
    val terms = r.getSeq[String](2)
    val q = spark.createDataFrame(java.util.List.of(Row(r.getLong(1), r.getSeq[Double](3))), qSchema)
    def lex = Curation.bm25SearchIndexed(spark, s"$index/bm25", terms, topK = depth)
      .withColumn("rank", row_number().over(Window.orderBy(col("score").desc, col("id"))))
      .select(col("id"), col("rank"))
    def sem = Similarity.ivfTopKIndexed(q, "query_id", "v", s"$index/ivf", k = depth, nprobe = nlist)
      .select(col("corpus_id").as("id"), col("rank"))
    def fuse(l: DataFrame, s: DataFrame) =
      Curation.rrfFuse(Seq(l, s), topK = 10).collect().map(_.getAs[Long]("id")).toSeq
    if (!tr.enabled) fuse(lex, sem)
    else {
      def local(df: DataFrame) = spark.createDataFrame(java.util.List.of(df.collect(): _*), df.schema)
      val l = tr("retrieval.bm25_probe")(local(lex))
      val s = tr("retrieval.ivf_probe")(local(sem))
      tr("retrieval.fuse")(fuse(l, s))
    }
  }

  override def warmup(): Unit = requests.takeRight(warmupRequests)
    .foreach(r => request(r, new Tracer(false, "", spark.sparkContext)))

  override def op(i: Int, tr: Tracer): Op = {
    val r = requests(i % (requests.length - warmupRequests))
    val (ids, ms) = timeMs(tr("retrieval.request")(request(r, tr)))
    Op("request", ms, 1L, Map("rid" -> r.getLong(0), "answer" -> ids))
  }

  override def layers(tr: Tracer, probe: Probe, ops: Seq[Op]): Map[String, Double] = {
    val opSpans = spans(tr, "retrieval.request")
    val jobs = opSpans.map(s => probe.jobsIn(tr.subtree(s.id)).size.toDouble)
    val bytes = opSpans.map(s => probe.stagesIn(tr.subtree(s.id)).map(_.inBytes).sum.toDouble)
    Map(
      "retrieval.bm25_probe_ms" -> med(spans(tr, "retrieval.bm25_probe").map(_.ms)),
      "retrieval.ivf_probe_ms" -> med(spans(tr, "retrieval.ivf_probe").map(_.ms)),
      "retrieval.fuse_ms" -> med(spans(tr, "retrieval.fuse").map(_.ms)),
      "retrieval.jobs_per_query" -> med(jobs),
      "retrieval.bytes_read_per_query" -> med(bytes),
      "retrieval.index_build_s" -> med(buildS.toSeq))
  }
}

/** `neardup_retrieval`: the near-dup pass and the retrieval client take
  * turns in one JVM, so the two operator workloads pay JVM start and
  * Spark warm-up once. Operations alternate, one of each per round. */
final class Interleaved(parts: Seq[(Workload, String)]) extends Workload {
  private val counts = Array.fill(parts.size)(0)
  private var last = 0
  override def minOps: Int = parts.map(_._1.minOps).sum
  override def prepare(rep: Int): Unit = parts.foreach(_._1.prepare(rep))
  override def warmup(): Unit = parts.foreach(_._1.warmup())

  override def op(i: Int, tr: Tracer): Op = {
    last = i % parts.size
    val o = parts(last)._1.op(counts(last), tr)
    counts(last) += 1
    o
  }

  override def after(op: Op): Unit = parts(last)._1.after(op)

  override def layers(tr: Tracer, probe: Probe, ops: Seq[Op]): Map[String, Double] =
    parts.flatMap { case (w, kind) => w.layers(tr, probe, ops.filter(_.kind == kind)) }.toMap
}

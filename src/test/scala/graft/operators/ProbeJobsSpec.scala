package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs one retrieval request costs — a [[Curation.bm25SearchIndexed]]
  * probe plus a [[Similarity.ivfTopKIndexed]] probe over stored indexes.
  * Driver-small metadata (stats row, centroids, query terms, probed
  * cells) must not cost schema-inference jobs or shuffles; the job count
  * is pinned so a change that adds one back fails here. */
class ProbeJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("probe-jobs-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val vocab = Vector("spark", "vector", "stream", "data", "index",
    "query", "fold", "probe", "batch")

  test("one bm25 + ivf request: no schema-inference job, pinned job count, unchanged answers") {
    val s = spark
    import s.implicits._
    val docs = (0L until 150L).map { id =>
      val r = new scala.util.Random(id)
      (id, Seq.fill(4 + r.nextInt(18))(vocab(r.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val vecs = (0L until 60L).map { i =>
      (i, Array((i % 7).toDouble + 1, ((i * 3) % 5).toDouble, ((i * 7) % 11).toDouble))
    }.toDF("id", "v")
    val base = Files.createTempDirectory("probejobs").toString
    Curation.writeBm25Index(docs, "doc_id", "text", s"$base/bm25", buckets = 8)
    Similarity.writeIvfIndex(vecs, "id", "v", s"$base/ivf", nlist = 4)
    val terms = Seq("spark", "vector", "spark")
    val q = vecs.filter(col("id") < 5)
    val qLocal = spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)

    def request() = (
      Curation.bm25SearchIndexed(spark, s"$base/bm25", terms, topK = 15).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq,
      Similarity.ivfTopKIndexed(qLocal, "id", "v", s"$base/ivf", k = 3, nprobe = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq)
    request() // warm: first-use class loading is not what this pins
    val log = new JobLog(spark)
    val ((lex, sem), jobs) = try log.during(request()) finally log.close()

    val names = jobs.map(j => s"job ${j.id}: ${j.stageNames.mkString(" | ")}")
    assert(!jobs.exists(_.stageNames.exists(_.startsWith("parquet at"))),
      s"schema-inference job in the request:\n${names.mkString("\n")}")
    assert(jobs.size === ProbeJobsSpec.RequestJobs, s"request jobs:\n${names.mkString("\n")}")

    // answers: the stored indexes agree with the direct operators, as in
    // Bm25IndexSpec / IvfIndexSpec
    val direct = Curation.bm25Search(docs, "doc_id", "text", terms.distinct, topK = 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(lex === direct)
    val brute = Similarity.ivfTopK(q, "id", "v", vecs, "id", "v", k = 3, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(sem === brute)
  }

  test("footer-schema reads equal inferring reads, partition columns included") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("probeschema").toString
    val docs = Seq((1L, "spark vector", "en"), (2L, "stream data", "de")).toDF("doc_id", "text", "lang")
    Curation.writeBm25Index(docs, "doc_id", "text", s"$base/bm25", buckets = 4, metaCols = Seq("lang"))
    val vecs = (0L until 20L).map(i => (i.toInt, Array(i.toDouble, 1.0, (i % 3).toDouble)))
      .toDF("id", "v")
    Similarity.writeIvfIndex(vecs, "id", "v", s"$base/ivf", nlist = 2)
    for (t <- Seq(s"$base/bm25/postings", s"$base/ivf/corpus")) {
      val mine = IndexMaintenance.readIndexTable(spark, new org.apache.hadoop.fs.Path(t))
      val inferred = spark.read.parquet(t)
      assert(mine.schema === inferred.schema, t)
      assert(mine.collect().map(_.toString).sorted === inferred.collect().map(_.toString).sorted, t)
    }
  }
}

object ProbeJobsSpec {
  /** Jobs one bm25SearchIndexed + ivfTopKIndexed request runs on this spec's
    * indexes (local[4]). Lower it when a change removes jobs; a change that
    * raises it must say why. */
  val RequestJobs = 14
}

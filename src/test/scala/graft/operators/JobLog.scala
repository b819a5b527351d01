package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs a block of driver code starts — their stage
  * names and the SQL conf values they were submitted with. Listener
  * events arrive asynchronously, so [[during]] brackets the block with
  * two tiny marker jobs and waits for the closing marker's event: the
  * bus delivers in order, so every job started before it has been
  * recorded by then. Jobs from other threads inside the window count
  * too. */
final class JobLog(spark: SparkSession) extends SparkListener {
  import JobLog.Job

  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.stageInfos.map(_.name),
      Option(e.properties).getOrElse(new java.util.Properties)))

  def during[T](body: => T): (T, Seq[Job]) = {
    val open = mark()
    val out = body
    val close = mark()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = jobs.toArray(Array.empty[Job]).toSeq
    while (!seen.exists(_.description == close) && System.nanoTime() < deadline)
      Thread.sleep(10)
    val all = seen.sortBy(_.id)
    val from = all.find(_.description == open).map(_.id)
    val to = all.find(_.description == close).map(_.id)
    assert(from.isDefined && to.isDefined, "marker jobs never reached the listener")
    (out, all.filter(j => j.id > from.get && j.id < to.get))
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  private def mark(): String = {
    val sc = spark.sparkContext
    val m = s"joblog-mark-${java.util.UUID.randomUUID()}"
    sc.setJobDescription(m)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    m
  }
}

object JobLog {
  final case class Job(id: Int, stageNames: Seq[String], props: java.util.Properties) {
    def description: String = props.getProperty("spark.job.description")
    def conf(key: String): Option[String] = Option(props.getProperty(key))
  }
}

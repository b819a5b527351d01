package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** A/B measurement for [[Dedup.connectedComponents]]'s lineage-cut
  * choice (VERDICT r11 #6): localCheckpoint (executor-resident blocks,
  * dies with an executor) vs the reliable `checkpointDir` cut (per-round
  * parquet write+read on fault-tolerant storage, survives executor
  * loss). The 100 TB recommendation — "flip to reliable for any run
  * long enough that losing an executor is expected" — should carry a
  * measured overhead number, not a vibe; this prints both times over
  * the SAME materialized pair list (pairs parquet'd first, so the A/B
  * isolates the CC iteration, not the pair pipeline) and asserts the
  * label tables are identical.
  *
  * What one call cuts depends on its size. Up to ~2 M edge rows (the
  * pairs count twice, once per orientation) the components come from
  * one union-find pass and are cut ONCE, so the A/B prices a single
  * write+read of the label table. Larger graphs run the propagation
  * loop and cut once per round; only that regime measures the
  * per-round overhead.
  *
  * Run: {{{ sbt "runMain graft.tools.CcLab /tmp/sf1 [reps]" }}}
  */
object CcLab {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the neardup_survivors corpus shape: every doc + an exact copy
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val corpus = d.unionByName(d.select((col("id") + 10000000L).as("id"), col("text")))
    val work = java.nio.file.Files.createTempDirectory("cclab").toString
    Dedup.ngramJaccardPairs(corpus, "id", "text", k = 3, threshold = 1.0)
      .write.mode("overwrite").parquet(s"$work/pairs")
    Dedup.unpersistAll(spark)
    val pairs = spark.read.parquet(s"$work/pairs")
    println(f"pairs=${pairs.count()} docs=${d.count()}")

    def timed(f: => org.apache.spark.sql.DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f.count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    // Conclusive identity, not an xor-fold fingerprint (differing tables
    // can cancel in xor — e.g. two components' labels swapped between
    // ids): empty symmetric difference in both directions.
    def identical(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    for (r <- 1 to reps) {
      val (nL, tL) = timed(Dedup.connectedComponents(pairs))
      val (nR, tR) = timed(Dedup.connectedComponents(pairs,
        checkpointDir = Some(s"$work/ckpt_$r")))
      val same = identical(Dedup.connectedComponents(pairs),
        Dedup.connectedComponents(pairs, checkpointDir = Some(s"$work/ckpt_v$r")))
      println(f"rep$r local=$tL%.2f s reliable=$tR%.2f s overhead=${(tR / tL - 1) * 100}%.1f%% " +
        f"labels=$nL/$nR identical=$same")
    }
    spark.stop()
  }
}

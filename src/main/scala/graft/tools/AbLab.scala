package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup}

/** Same-JVM A/B harness for the r19 pin-vs-recompute questions (the
  * paired-arm discipline: cross-run comparisons on this VM are noise, so
  * both arms run alternating in ONE session, min-of-N per arm, with a
  * row-count parity check between arms).
  *
  * Arms duplicate the PRE-change plan inline (tools-only copy, the
  * production operator carries the post-change plan) so the comparison
  * is plan-vs-plan on the same box minute.
  *
  * Run: {{{ sbt "runMain graft.tools.AbLab [section] [--sf dir] [--reps N]" }}}
  */
object AbLab {
  def main(args: Array[String]): Unit = {
    var sfDir = "/root/testdata/sf0.1"
    var reps = 4
    var section = "all"
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--sf" => sfDir = args(i + 1); i += 2
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case s => section = s; i += 1
      }
    }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def in(s: String) = section == "all" || section == s

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count() // footer/JIT warm

    def bench(name: String)(arms: (String, () => DataFrame)*): Unit = {
      val times = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
      val rows = scala.collection.mutable.Map[String, Long]()
      for (_ <- 1 to reps; (arm, f) <- arms) {
        Dedup.unpersistAll(spark)
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        val n = f().count()
        times(arm) ::= (System.nanoTime() - t0) / 1e9
        rows(arm) = n
      }
      val parity = rows.values.toSet.size == 1
      println(f"== $name parity=$parity rows=${rows.values.head}")
      for ((arm, _) <- arms)
        println(f"   $arm%-12s min=${times(arm).min}%.2f  all=${times(arm).reverse.map(t => f"$t%.2f").mkString(",")}")
    }

    // the pre-r19 charLmScore: tri exploded twice + a full bigram explode
    def charGrams(text: org.apache.spark.sql.Column, k: Int) =
      when(length(text) >= k,
        transform(sequence(lit(1), length(text) - (k - 1)),
          i => text.substr(i, lit(k))))
        .otherwise(array().cast("array<string>"))
    def lmOld(df: DataFrame): DataFrame = {
      val smoothing = 32
      val tri = df.select(col("doc_id").as("id"),
        explode(charGrams(col("text"), 3)).as("g"))
      val triCounts = tri.groupBy("g").agg(count(lit(1)).as("c3"))
      val biCounts = df.select(explode(charGrams(col("text"), 2)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c2"))
      tri.join(broadcast(triCounts), "g")
        .withColumn("b", substring(col("g"), 1, 2))
        .join(broadcast(biCounts), "b")
        .groupBy("id")
        .agg(round(avg(log(col("c3").cast("double") / (col("c2") + lit(smoothing)))), 4)
          .as("lm_score"),
          count(lit(1)).as("n_grams"))
    }

    // the pre-r19 lineDedup (unpinned lines, n_docs from the exploded frame)
    def lineDedupOld(df: DataFrame): DataFrame = {
      val hash = udf((s: String) =>
        java.lang.Long.valueOf(graft.functions.GraftFunctions.fnv1a64(s)))
      val lines = df.select(col("doc_id").as("id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(" ")))
          .as(Seq("pos", "line")))
        .withColumn("h", hash(col("line")))
      val dfs = lines.select("id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
      val nDocs = lines.select(countDistinct(col("id")).as("n_docs"))
      val hot = dfs.crossJoin(broadcast(nDocs))
        .filter(col("df") > col("n_docs") * lit(0.78))
        .select("h")
      lines.join(broadcast(hot), Seq("h"), "left_anti")
        .groupBy(col("id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          " ").as("clean_text"))
    }

    // r20 (verdict item 2): the r19 lm A/B was UNFAIR to the old form —
    // lmOld(docs) ran without the production spread, so its explodes ran
    // on the scan's single partition; the real r18 plan (spread +
    // recompute) benched 983 ms vs the pin's 1659. Re-adjudicate with
    // the spread old form, the r19 string pin, and the r20 narrow pin
    // (grams hashed to int64 BEFORE pinning — the pin is 3 longs/row,
    // collision risk class identical to the shingle-hash convention).
    def lmStringPin(df: DataFrame): DataFrame = {
      val smoothing = 32
      val d = df.repartition(32)
      val tri = Dedup.pin(d.select(col("doc_id").as("id"),
        explode(charGrams(col("text"), 3)).as("g")))
      val triCounts = tri.groupBy("g").agg(count(lit(1)).as("c3"))
      val biCounts = tri.select(substring(col("g"), 1, 2).as("b"))
        .unionAll(d.filter(length(col("text")) >= 2)
          .select(substring(col("text"), -2, 2).as("b")))
        .groupBy("b").agg(count(lit(1)).as("c2"))
      tri.join(broadcast(triCounts), "g")
        .withColumn("b", substring(col("g"), 1, 2))
        .join(broadcast(biCounts), "b")
        .groupBy("id")
        .agg(round(avg(log(col("c3").cast("double") / (col("c2") + lit(smoothing)))), 4)
          .as("lm_score"),
          count(lit(1)).as("n_grams"))
    }
    def lmNarrowPin(df: DataFrame): DataFrame = {
      val smoothing = 32
      val d = df.repartition(32)
      val tri = Dedup.pin(d.select(col("doc_id").as("id"),
        explode(charGrams(col("text"), 3)).as("g"))
        .select(col("id"), xxhash64(col("g")).as("h3"),
          xxhash64(substring(col("g"), 1, 2)).as("h2")))
      val triCounts = tri.groupBy("h3").agg(count(lit(1)).as("c3"))
      val biCounts = tri.select(col("h2"))
        .unionAll(d.filter(length(col("text")) >= 2)
          .select(xxhash64(substring(col("text"), -2, 2)).as("h2")))
        .groupBy("h2").agg(count(lit(1)).as("c2"))
      tri.join(broadcast(triCounts), "h3")
        .join(broadcast(biCounts), "h2")
        .groupBy("id")
        .agg(round(avg(log(col("c3").cast("double") / (col("c2") + lit(smoothing)))), 4)
          .as("lm_score"),
          count(lit(1)).as("n_grams"))
    }

    // NOTE (r20 outcome): production charLmScore is now the
    // spread+recompute form — the "prod" arm measures the same plan as
    // "old-spread" (they should tie; a gap = spread() drifted). The two
    // pin arms keep the REMOVED r19 candidates reproducible inline.
    if (in("lm")) bench("charLmScore")(
      "old-3explode" -> (() => lmOld(docs)),
      "old-spread" -> (() => lmOld(docs.repartition(32))),
      "pin-string(r19,removed)" -> (() => lmStringPin(docs)),
      "pin-narrow(removed)" -> (() => lmNarrowPin(docs)),
      "prod(=old-spread)" -> (() => Curation.charLmScore(docs, "doc_id", "text")))

    // r20 (verdict item 6): spread() is work-blind — lineDedup's per-row
    // work (split + fnv hash) is too light to pay for the repartition
    // exchange of the raw text. The pin-nospread arm is the candidate
    // production form: pinned (one explode for three consumers) but no
    // up-front repartition of the corpus.
    def lineDedupPinNoSpread(df: DataFrame): DataFrame = {
      val hash = udf((s: String) =>
        java.lang.Long.valueOf(graft.functions.GraftFunctions.fnv1a64(s)))
      val lines = Dedup.pin(df.select(col("doc_id").as("id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(" ")))
          .as(Seq("pos", "line")))
        .withColumn("h", hash(col("line"))))
      val dfs = lines.select("id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
      val nDocs = lines.select(countDistinct(col("id")).as("n_docs"))
      val hot = dfs.crossJoin(broadcast(nDocs))
        .filter(col("df") > col("n_docs") * lit(0.78))
        .select("h")
      lines.join(broadcast(hot), Seq("h"), "left_anti")
        .groupBy(col("id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          " ").as("clean_text"))
    }

    // r20 (verdict item 2, second shape): is the dsir shared-explode pin
    // worth its corpus-multiple width? Measured: two-pass 1.92 s vs r19
    // pinned 2.01 s min-of-5 — pin REMOVED from production. Since that
    // removal, production dsirWeights IS the two-pass composition, so
    // these arms measure the same plan and should tie (a gap = the
    // delegation drifted); the r19 pinned form no longer exists to copy
    // inline (it needed the private *Grams internals) — its record
    // lives in OPTIMIZATION_r20.md and /tmp logs of the deciding run.
    if (in("dsir")) bench("dsirWeights")(
      "twopass-inline" -> (() => Curation.dsirScore(docs, "doc_id", "text",
        Curation.trainDsirModel(docs, "text",
          docs.filter(col("doc_id") % 7 === 0), "text", vocab = 512))),
      "prod(=twopass)" -> (() => Curation.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 7 === 0), "text", vocab = 512)))

    // NOTE (r20 outcome): production lineDedup dropped the spread and
    // kept the pin — the "prod" arm now measures the same plan as
    // "pin-nospread" (they should tie); "pinned+spread(r19)" keeps the
    // replaced r19 shape reproducible via an explicit pre-repartition.
    if (in("linededup")) bench("lineDedup")(
      "old-1part" -> (() => lineDedupOld(docs)),
      "old-spread" -> (() => lineDedupOld(docs.repartition(32))),
      "pin-nospread" -> (() => lineDedupPinNoSpread(docs)),
      "pinned+spread(r19)" -> (() => Dedup.lineDedup(docs.repartition(32),
        "doc_id", "text", sep = " ", maxDfFrac = 0.78)),
      "prod(=pin-nospread)" -> (() => Dedup.lineDedup(docs, "doc_id", "text",
        sep = " ", maxDfFrac = 0.78)))

    spark.stop()
  }
}

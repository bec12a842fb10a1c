package graft.tools

import graft.Harness
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Boilerplate hot-shingle stress for the dedup/text family (tool, not
  * contract surface). A web crawl's signature hazard is a shared paragraph
  * (cookie banner, license header) appearing in a large fraction of
  * documents: every one of its shingles becomes corpus-hot, and any
  * operator that equi-joins on shingle hash goes quadratic in the hot
  * document count. The `maxDf`/`maxBucket` valves exist to bound exactly
  * this; this tool measures them actually doing it (they had only ever
  * been *designed*, r9 review "wrong" #2).
  *
  * `gen <srcDocsDir> <outDir> [pct]`: copy documents.parquet, appending a
  *   fixed ~40-token paragraph to `pct`% of documents (doc_id mod 100 <
  *   pct — deterministic, scale-free). Only documents.parquet is written:
  *   the dedup family reads nothing else.
  *
  * `run <dir> on|off [families…]`: run each family member against
  *   `<dir>/documents.parquet` with valves ON (production defaults /
  *   tuned caps) or OFF (exact semantics), printing one JSON line each:
  *   `{"family":…,"valves":…,"sec":…,"rows":…}`. The OFF jaccard run is
  *   quadratic in hot-doc count BY CONSTRUCTION — run it only at a scale
  *   where hot² is affordable (sf0.01-boiler ≈ 1.8k hot docs); the ON run
  *   scales to the full corpus.
  *
  * `account <dir>`: the accounting surfaces — `hotShingles` rows (df>100)
  *   and the max LSH bucket size — proving capped runs report what they
  *   dropped rather than truncating silently.
  */
object BoilerStress {
  val boilerplate: String =
    "this website uses cookies to ensure you get the best experience on " +
    "our website by continuing to browse the site you are agreeing to our " +
    "use of cookies and acknowledge our privacy policy terms of service " +
    "and licensing agreement all rights reserved"

  def main(args: Array[String]): Unit = args(0) match {
    case "gen" =>
      val (src, out) = (args(1), args(2))
      val pct = args.lift(3).map(_.toInt).getOrElse(30)
      val s = Harness.session()
      val docs = s.read.parquet(s"$src/documents.parquet")
      docs.withColumn("text",
          when(pmod(col("doc_id"), lit(100L)) < pct,
            concat(col("text"), lit(" "), lit(boilerplate))).otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"[boiler] $out: $pct% of documents carry the shared paragraph")
      s.stop()

    case "run" =>
      val dir = args(1)
      val valvesOn = args(2) == "on"
      val families = if (args.length > 3) args.drop(3).toSeq
        else Seq("jaccard", "minhash", "simhash", "dupfrac", "spans", "heavy_hitters")
      val s = Harness.session()
      val docs = graft.Tables.documents(s, dir)
      def one(family: String): DataFrame = family match {
        case "jaccard" =>
          // maxExpectedPairs = 0: this tool MEASURES the unvalved blow-up —
          // the pre-flight guard would (correctly) abort the valves-off arm
          graft.pipeline.Dedup.jaccardJoin(docs,
            maxDf = if (valvesOn) 100L else 0L, maxExpectedPairs = 0L)
        case "minhash" =>
          graft.pipeline.Dedup.minhashPairs(docs,
            maxBucket = if (valvesOn) 100000 else Int.MaxValue)
        case "simhash" =>
          graft.pipeline.Dedup.simhashPairs(docs,
            maxBucket = if (valvesOn) 100000 else Int.MaxValue)
        case "dupfrac" => graft.pipeline.Dedup.duplicatedNgramStats(docs)
        case "spans" => graft.pipeline.Dedup.removeDuplicatedSpans(docs)
        case "heavy_hitters" => graft.pipeline.TextAnalysis.heavyHitters(docs)
      }
      families.foreach { fam =>
        // warm + timed, cache-cold per rep (the Bench discipline)
        (0 to 1).foreach { rep =>
          Harness.release(s)
          val t0 = System.nanoTime()
          val rows = one(fam).count()
          val sec = (System.nanoTime() - t0) / 1e9
          if (rep == 1)
            println(f"""{"family":"$fam","valves":"${if (valvesOn) "on" else "off"}","sec":$sec%.2f,"rows":$rows}""")
          System.out.flush()
        }
      }
      s.stop()

    case "account" =>
      val dir = args(1)
      val s = Harness.session()
      val docs = graft.Tables.documents(s, dir)
      val hot = graft.pipeline.Dedup.hotShingles(docs, k = 3, maxDf = 100L)
      val hotStats = hot.agg(count(lit(1)).as("n"), max(col("df")).as("max_df")).collect().head
      println(s"""{"hot_shingles_over_df100":${hotStats.getLong(0)},"max_df":${hotStats.get(1)}}""")
      s.stop()
  }
}

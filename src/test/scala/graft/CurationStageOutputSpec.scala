package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{CurationPipeline, DedupOps}

/** The parquet sinks land exactly what the lazy chains compute: every
  * `<label>.parquet` a sink writes holds the same row multiset (and
  * columns) as the matching stage frame of the lazy chain, and
  * `reports/near_dup_cap_drops.parquet` equals the lazy chain's
  * `minhashOversizedBuckets` over its near-dup shingle table. Run at the
  * default bucket cap (empty report) and at a cap of 1, which drops every
  * shared bucket, so the report is non-empty.
  */
class CurationStageOutputSpec extends SparkSpec {
  import spark.implicits._

  // the CurateFullSpec corpus: one planted defect per stage
  private lazy val docs = CurateFullSpec.rows.toDF("doc_id", "lang", "text")
  private val isEval = col("doc_id") % 10 === 0

  private def out(name: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_stageout_$name").toString

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def assertSame(what: String, landed: DataFrame, expected: DataFrame): Unit = {
    assert(landed.columns.toSeq == expected.columns.toSeq, s"$what: columns differ")
    val (got, want) = (multiset(landed), multiset(expected))
    assert(got == want, s"$what: landed rows differ from the lazy chain's\n" +
      s"  landed only: ${got.keySet -- want.keySet}\n  lazy only: ${want.keySet -- got.keySet}")
  }

  private def assertLanded(dir: String, stages: Seq[(String, DataFrame)],
                           drops: DataFrame, expectDrops: Boolean): Unit = {
    stages.foreach { case (label, df) =>
      assertSame(label, spark.read.parquet(s"$dir/$label.parquet"), df)
    }
    val report = spark.read.parquet(s"$dir/reports/near_dup_cap_drops.parquet")
    assertSame("reports/near_dup_cap_drops", report, drops)
    assert(report.isEmpty != expectDrops, s"cap-drop report emptiness: expected drops=$expectDrops")
  }

  for ((maxBucket, expectDrops) <- Seq(DedupOps.DefaultMaxBucket -> false, 1 -> true)) {
    test(s"curateFullToParquet lands curateFullStages, maxBucket=$maxBucket") {
      val dir = out("full")
      CurationPipeline.curateFullToParquet(docs, "text", "doc_id", "lang", isEval, dir,
        maxBucket = maxBucket)
      val stages = CurationPipeline.curateFullStages(docs, "text", "doc_id", "lang", isEval,
        maxBucket = maxBucket)
      val sh = stages.toMap.apply("4_span_dedup").select(col("doc_id"),
        DedupOps.shingleHashesOfWordHashes(col("wh_clean"), 3).as("sg"))
      assertLanded(dir, stages, DedupOps.minhashOversizedBuckets(sh, maxBucket = maxBucket),
        expectDrops)
    }

    test(s"curateToParquet lands curateStages, maxBucket=$maxBucket") {
      val dir = out("curate")
      CurationPipeline.curateToParquet(docs, "text", "doc_id", "lang", isEval, dir,
        maxBucket = maxBucket)
      val stages = CurationPipeline.curateStages(docs, "text", "doc_id", "lang", isEval,
        maxBucket = maxBucket)
      val sh = DedupOps.shingleHashTable(stages.toMap.apply("2_exact_dedup"), "_nt", "doc_id", 3)
      assertLanded(dir, stages, DedupOps.minhashOversizedBuckets(sh, maxBucket = maxBucket),
        expectDrops)
    }
  }
}

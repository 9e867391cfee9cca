package graft.silver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, TableSpec}
import graft.io.{BatchStore, TableIO}
import graft.operators.{DqOps, FlattenOps, MergeOps}
import graft.sources.RestSource

/** The generic silver build template (SURVEY §2 "Template", §3.1): the
  * reference repeats fetch → flatten → dedupe → DQ → write in all 31
  * table builders; here one engine is parameterized by TableSpec +
  * FlattenSpec + an optional enrichment hook, with outputs routed through
  * the copy-on-write batch store.
  */
object SilverBuilder {

  final case class BuildResult(
      table: String,
      ok: Boolean,
      rowCount: Long,
      dqStatus: String,
      stopReason: String,
      outputKeys: Seq[String])

  /** Execute one table build into a batch.
    *
    * @param fetch     source scan (REST client call, stubbed in tests)
    * @param transform post-flatten hook (surrogate ids, casts, derived
    *                  cols) — the per-table bit that isn't declarative
    */
  def build(spark: SparkSession,
            store: BatchStore,
            storeRoot: String,
            batchId: String,
            spec: TableSpec,
            flattenSpec: FlattenOps.FlattenSpec,
            fetch: () => RestSource.ApiSummary,
            transform: DataFrame => DataFrame = identity,
            snapshotDate: String): BuildResult = {
    import spark.implicits._

    val summary = fetch()
    if (!summary.ok)
      return BuildResult(spec.name, ok = false, 0, "fail",
        summary.pagination.stopReason, Nil)

    // flatten raw payload rows through the declarative spec
    val raw = spark.createDataset(summary.results.map(_.toString)).toDF("json")
    val flattened = transform(FlattenOps.flatten(raw, "json", flattenSpec))
      .withColumn("snapshot_date", lit(snapshotDate))
    val conformed = TableSpec.conform(flattened, spec)

    // merge policy against the currently-promoted table (M1-M3)
    val latestKey = s"latest/parquet/${spec.name}.parquet"
    val existing = readCurrent(spark, store, latestKey, conformed)
    val merged = spec.writeStrategy match {
      case "upsert" | "append" =>
        MergeOps.upsert(existing, conformed, spec.primaryKey, spec.businessKey)
      case _ => MergeOps.snapshotReplace(conformed)
    }

    val csvKey = s"latest/csv/${spec.name}.csv"
    val parquetKey = latestKey

    // one cached pass feeds DQ and writes; released on every path, a
    // failed write included
    val (rowCount, dqStatus) = CacheScope.run {
      CacheScope.persist(merged)
      val dqRow = DqOps.summary(merged, spec.primaryKey, spec.columns).collect().head
      val rowCount = dqRow.getAs[Long]("row_count")
      val dqStatus =
        if (dqRow.getAs[Long]("pk_duplicate_count") == 0 &&
          dqRow.getAs[Long]("pk_blank_count") == 0 && rowCount > 0) "pass" else "fail"

      // write csv + parquet into the immutable batch location
      TableIO.writeCsv(merged, s"$storeRoot/${store.batchKeyForProductionKey(csvKey, batchId)}")
      TableIO.writeParquet(merged, s"$storeRoot/${store.batchKeyForProductionKey(parquetKey, batchId)}")
      (rowCount, dqStatus)
    }

    store.recordBatchTable(batchId, spec.name, rowCount, dqStatus,
      spec.primaryKey, spec.columns, Seq(csvKey, parquetKey))
    BuildResult(spec.name, ok = true, rowCount, dqStatus,
      summary.pagination.stopReason, Seq(csvKey, parquetKey))
  }

  /** Read the currently-promoted version of a table (for upsert merges).
    * Empty only when nothing is promoted yet or the promoted batch has no
    * such table; any other failure (an unreadable table, a listing error)
    * propagates — merging into an empty frame would publish this cycle's
    * rows alone and silently drop the table's history. The checks and the
    * read resolve against the store's one root.
    */
  def readCurrent(spark: SparkSession, store: BatchStore,
                  latestKey: String, shape: DataFrame): DataFrame =
    if (!store.exists(store.productionPointerKey)) shape.limit(0)
    else {
      val resolved = store.resolveProductionKey(latestKey)
      if (store.exists(resolved)) spark.read.parquet(store.objectPath(resolved))
      else shape.limit(0)
    }
}

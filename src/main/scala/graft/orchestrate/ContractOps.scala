package graft.orchestrate

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.{BatchStore, TableIO}

/** Downstream dataset contracts (reference
  * extract/oireachtas/contracts.py:63-155): each consumer-facing dataset
  * declares required columns, a primary key, a minimum row count, and a
  * freshness bound; validation resolves the logical key through the
  * production pointer (candidate reads NEVER fall back to the mutable
  * production object) and enumerates every violation.
  */
object ContractOps {

  final case class DatasetContract(
      name: String,
      logicalKey: String,
      requiredColumns: Seq[String],
      primaryKey: Seq[String],
      minimumRows: Long = 1,
      maximumAgeDays: Int = 30)

  /** contracts.py:63-135 validate_dataset_contract. */
  def validateDatasetContract(spark: SparkSession, store: BatchStore, storeRoot: String,
                              contract: DatasetContract, asOf: LocalDate): Map[String, Any] = {
    val resolved =
      try store.resolveProductionKey(contract.logicalKey)
      catch { case _: Exception => contract.logicalKey }
    try {
      require(store.exists(resolved), s"missing object: $resolved")
      // header-driven all-string read (the contract checks the ACTUAL
      // columns, so no declared schema here); multiLine + escape so quoted
      // embedded newlines parse as one record, as pandas read_csv does
      val df = spark.read.option("header", "true")
        .option("multiLine", "true").option("escape", "\"")
        .csv(s"$storeRoot/$resolved")

      val cols = df.columns.toSet
      val missingColumns = contract.requiredColumns.filterNot(cols).sorted
      val missingPk = contract.primaryKey.filterNot(cols).sorted
      val (rowCount: Long, dupCount: Long, blankPkRows: Long) =
        if (contract.primaryKey.nonEmpty && missingPk.isEmpty) {
          // one query: per-key group sizes, then row / duplicate / blank
          // sums. Blankness is a function of the key, so it is constant
          // within a group. pandas duplicated(keep=False).sum() counts
          // EVERY row of a duplicated group
          val blank = contract.primaryKey
            .map(c => trim(coalesce(col(c), lit(""))) === "").reduce(_ || _)
          val r = df.groupBy(contract.primaryKey.map(col): _*)
            .agg(count(lit(1)).as("n"), max(blank).as("blank"))
            .agg(coalesce(sum("n"), lit(0L)),
              coalesce(sum(when(col("n") > 1, col("n"))), lit(0L)),
              coalesce(sum(when(col("blank"), col("n"))), lit(0L)))
            .collect().head
          (r.getLong(0), r.getLong(1), r.getLong(2))
        } else (df.count(), 0L, 0L)

      val ageDays = store.lastModified(resolved).map { ms =>
        val modifiedDate = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate
        java.time.temporal.ChronoUnit.DAYS.between(modifiedDate, asOf)
      }
      val fresh = ageDays.exists(_ <= contract.maximumAgeDays)

      val errors = Seq.newBuilder[String]
      if (rowCount < contract.minimumRows)
        errors += s"row_count $rowCount below minimum ${contract.minimumRows}"
      if (missingColumns.nonEmpty) errors += s"missing required columns: $missingColumns"
      if (missingPk.nonEmpty) errors += s"missing primary-key columns: $missingPk"
      if (dupCount > 0) errors += s"duplicate primary-key rows: $dupCount"
      if (blankPkRows > 0) errors += s"blank primary-key rows: $blankPkRows"
      if (!fresh) errors += s"dataset age $ageDays exceeds maximum ${contract.maximumAgeDays}"
      val es = errors.result()

      Map(
        "dataset" -> contract.name,
        "status" -> (if (es.nonEmpty) "fail" else "pass"),
        "logical_key" -> contract.logicalKey,
        "resolved_key" -> resolved,
        "row_count" -> rowCount,
        "missing_columns" -> missingColumns,
        "missing_primary_key_columns" -> missingPk,
        "duplicate_primary_key_rows" -> dupCount,
        "blank_primary_key_rows" -> blankPkRows,
        "age_days" -> ageDays.map(Long.box).orNull,
        "maximum_age_days" -> contract.maximumAgeDays,
        "errors" -> es)
    } catch {
      case e: Exception =>
        Map(
          "dataset" -> contract.name,
          "status" -> "fail",
          "logical_key" -> contract.logicalKey,
          "resolved_key" -> resolved,
          "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** contracts.py:138-155 validate_contract_set: unknown names are a hard
    * error; overall pass requires every selected dataset to pass.
    */
  def validateContractSet(spark: SparkSession, store: BatchStore, storeRoot: String,
                          contracts: Map[String, DatasetContract],
                          names: Seq[String], asOf: LocalDate): Map[String, Any] = {
    val selected = if (names.nonEmpty) names else contracts.keys.toSeq.sorted
    val unknown = selected.filterNot(contracts.contains).sorted
    require(unknown.isEmpty, s"Unknown downstream contracts: $unknown")
    val results = selected.map(n =>
      validateDatasetContract(spark, store, storeRoot, contracts(n), asOf))
    Map(
      "status" -> (if (results.nonEmpty && results.forall(_("status") == "pass")) "pass" else "fail"),
      "dataset_count" -> results.size.toLong,
      "results" -> results)
  }
}

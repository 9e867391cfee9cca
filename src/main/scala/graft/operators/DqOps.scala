package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Declarative data-quality checks (SURVEY §2.6 A11, reference per-table
  * `_dq_results` + contracts.py:63-154). `summary` is one aggregation
  * producing a single summary row; `validate` runs its checks over one
  * cached pass of the frame, in its own [[CacheScope]] — a frame the
  * caller already cached is used as is and left cached.
  */
object DqOps {

  final case class Contract(
      minRows: Long = 0,
      requiredCols: Seq[String] = Nil,
      pk: Seq[String] = Nil,
      nonNullCols: Seq[String] = Nil)

  /** Single-aggregation DQ summary: row count, pk duplicate count, blank-pk
    * count, per-column populated counts. One job, map-side combinable.
    */
  def summary(df: DataFrame, pk: Seq[String], populated: Seq[String]): DataFrame = {
    val pkCol = concat_ws("|", pk.map(col): _*)
    val base = df.withColumn("_pk", pkCol)
    val aggs: Seq[Column] =
      Seq(
        count(lit(1)).as("row_count"),
        (count(lit(1)) - countDistinct(col("_pk"))).as("pk_duplicate_count"),
        count(when(trim(col("_pk")) === "" || col("_pk").isNull, 1)).as("pk_blank_count")) ++
        populated.map(c =>
          count(when(col(c).isNotNull && trim(col(c).cast("string")) =!= "", 1))
            .as(s"populated_$c"))
    base.agg(aggs.head, aggs.tail: _*)
  }

  /** Contract validation (contracts.py:85-116): returns rows
    * (check_name, passed, detail) — empty `passed=false` set ⇒ contract ok.
    */
  def validate(df: DataFrame, contract: Contract): Seq[(String, Boolean, String)] = {
    val cols = df.columns.toSet
    val missing = contract.requiredCols.filterNot(cols.contains)
    val colCheck = ("required_columns", missing.isEmpty, missing.mkString(","))

    // one cached pass feeds the several checks below
    CacheScope.run {
      val cnt = CacheScope.persist(df)
      val rowCount = cnt.count()
      val rowCheck = ("min_rows", rowCount >= contract.minRows, s"$rowCount")

      val pkChecks = if (contract.pk.nonEmpty && contract.pk.forall(cols.contains)) {
        val dups = rowCount - cnt.select(contract.pk.map(col): _*).distinct().count()
        val blanks = cnt.filter(contract.pk.map(c => col(c).isNull || trim(col(c).cast("string")) === "")
          .reduce(_ || _)).count()
        Seq(("pk_unique", dups == 0, s"$dups"), ("pk_nonblank", blanks == 0, s"$blanks"))
      } else Nil

      val nnChecks = contract.nonNullCols.filter(cols.contains).map { c =>
        val nulls = cnt.filter(col(c).isNull).count()
        (s"nonnull_$c", nulls == 0, s"$nulls")
      }
      Seq(colCheck, rowCheck) ++ pkChecks ++ nnChecks
    }
  }
}

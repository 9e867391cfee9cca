package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.time.LocalDate

import graft.io.BatchStore
import graft.orchestrate.ContractOps
import graft.orchestrate.ContractOps.DatasetContract

/** Port of tests/test_oireachtas_downstream_contracts.py
  * ContractValidationTests + the batch-aware read discipline.
  */
class ContractOpsSpec extends SparkSpec {

  private def contract = DatasetContract(
    name = "members",
    logicalKey = "compat/members/test.csv",
    requiredColumns = Seq("member_code", "full_name"),
    primaryKey = Seq("member_code"),
    minimumRows = 2,
    maximumAgeDays = 5)

  private def newStore(): (BatchStore, String) = {
    val dir = Files.createTempDirectory("contracts").toString
    (BatchStore.local(dir), dir)
  }

  private def writeCsv(root: String, key: String, body: String): String = {
    val path = Paths.get(root, key)
    Files.createDirectories(path.getParent)
    Files.write(path, body.getBytes("UTF-8"))
    key
  }

  test("contract passes a complete fresh unique dataset (candidate read)") {
    val (store, root) = newStore()
    val physical = store.batchKeyForProductionKey(contract.logicalKey, "candidate-1")
    writeCsv(root, physical, "member_code,full_name\nm1,One\nm2,Two\n")
    // candidate read resolves through the pointer — never the logical key
    store.putJson(store.productionPointerKey,
      Map[String, Any]("mode" -> "batch", "batch_id" -> "candidate-1"))
    val result = ContractOps.validateDatasetContract(spark, store, root, contract,
      asOf = LocalDate.now())
    assert(result("status") == "pass", result)
    assert(result("resolved_key") == physical)
    assert(result("row_count") == 2L)
  }

  test("contract fails on missing columns, duplicates, and staleness") {
    val (store, root) = newStore()
    val physical = store.batchKeyForProductionKey(contract.logicalKey, "candidate-1")
    val key = writeCsv(root, physical, "member_code\nm1\nm1\n")
    // age the file beyond maximum_age_days
    Files.setLastModifiedTime(Paths.get(root, key),
      FileTime.fromMillis(System.currentTimeMillis() - 40L * 24 * 3600 * 1000))
    store.putJson(store.productionPointerKey,
      Map[String, Any]("mode" -> "batch", "batch_id" -> "candidate-1"))
    val result = ContractOps.validateDatasetContract(spark, store, root, contract,
      asOf = LocalDate.now())
    assert(result("status") == "fail")
    assert(result("missing_columns").asInstanceOf[Seq[String]].contains("full_name"))
    // pandas duplicated(keep=False): both m1 rows count
    assert(result("duplicate_primary_key_rows") == 2L)
    val age = result("age_days").asInstanceOf[Long]
    assert(age > contract.maximumAgeDays)
    val errors = result("errors").asInstanceOf[Seq[String]]
    assert(errors.exists(_.contains("row_count")) || result("row_count") == 2L)
  }

  test("blank primary-key rows count null and whitespace-only keys") {
    val (store, root) = newStore()
    writeCsv(root, store.batchKeyForProductionKey(contract.logicalKey, "b1"),
      "member_code,full_name\n,Null Key\n\"  \",Space Key\nm1,One\nm2,Two\n")
    store.putJson(store.productionPointerKey,
      Map[String, Any]("mode" -> "batch", "batch_id" -> "b1"))
    val result = ContractOps.validateDatasetContract(spark, store, root, contract,
      asOf = LocalDate.now())
    assert(result("status") == "fail")
    assert(result("row_count") == 4L)
    assert(result("blank_primary_key_rows") == 2L)
    assert(result("duplicate_primary_key_rows") == 0L)
  }

  test("a missing primary-key column still reports row_count") {
    val (store, root) = newStore()
    writeCsv(root, store.batchKeyForProductionKey(contract.logicalKey, "b1"),
      "full_name\nOne\nTwo\nThree\n")
    store.putJson(store.productionPointerKey,
      Map[String, Any]("mode" -> "batch", "batch_id" -> "b1"))
    val result = ContractOps.validateDatasetContract(spark, store, root, contract,
      asOf = LocalDate.now())
    assert(result("status") == "fail")
    assert(result("row_count") == 3L)
    assert(result("missing_primary_key_columns") == Seq("member_code"))
    assert(result("duplicate_primary_key_rows") == 0L && result("blank_primary_key_rows") == 0L)
  }

  test("candidate read never falls back to the logical production object") {
    val (store, root) = newStore()
    // logical object exists, but the pointer names a batch with NO copy
    writeCsv(root, contract.logicalKey, "member_code,full_name\nm1,One\nm2,Two\n")
    store.putJson(store.productionPointerKey,
      Map[String, Any]("mode" -> "batch", "batch_id" -> "candidate-1"))
    val result = ContractOps.validateDatasetContract(spark, store, root, contract,
      asOf = LocalDate.now())
    assert(result("status") == "fail")
    assert(result.contains("error"))
  }

  test("contract set: unknown names raise; any failure fails the set") {
    val (store, root) = newStore()
    writeCsv(root, store.batchKeyForProductionKey(contract.logicalKey, "b1"),
      "member_code,full_name\nm1,One\nm2,Two\n")
    store.putJson(store.productionPointerKey,
      Map[String, Any]("mode" -> "batch", "batch_id" -> "b1"))
    val contracts = Map("members" -> contract,
      "missing" -> contract.copy(name = "missing", logicalKey = "compat/members/none.csv"))
    intercept[IllegalArgumentException] {
      ContractOps.validateContractSet(spark, store, root, contracts, Seq("nope"), LocalDate.now())
    }
    val okOnly = ContractOps.validateContractSet(spark, store, root, contracts,
      Seq("members"), LocalDate.now())
    assert(okOnly("status") == "pass")
    val withMissing = ContractOps.validateContractSet(spark, store, root, contracts,
      Seq("members", "missing"), LocalDate.now())
    assert(withMissing("status") == "fail")
    assert(withMissing("dataset_count") == 2L)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.TableRegistry
import graft.functions.Fns
import graft.io.BatchStore
import graft.operators.FlattenOps.{FieldSpec, FlattenSpec}
import graft.silver.SilverBuilder
import graft.sources.RestSource
import graft.sources.RestSource.{HttpResult, HttpTransport}

/** End-to-end lifecycle test: stubbed REST pages → flatten → upsert merge
  * → DQ → batch-routed csv/parquet writes → manifest → promote → read
  * back through the production pointer → incremental second batch.
  */
class SilverBuilderSpec extends SparkSpec {

  private val spec = TableRegistry.specs("silver_members")

  private val flattenSpec = FlattenSpec(
    wrapperKeys = Seq("member", "person"),
    fields = Seq(
      FieldSpec("member_code", Seq("memberCode", "code")),
      FieldSpec("full_name", Seq("fullName", "showAs")),
      FieldSpec("is_current_member", Seq("isCurrent"), default = "false")))

  private def transportFor(pages: Seq[String]) = new HttpTransport {
    private val q = scala.collection.mutable.Queue(pages: _*)
    def get(url: String, params: Map[String, String]): HttpResult =
      HttpResult(200, if (q.nonEmpty) q.dequeue() else """{"results":[]}""")
  }

  private def fetchFrom(pages: Seq[String])() =
    new RestSource.Client(transportFor(pages), "https://api.test", sleeper = _ => ())
      .getPaginated("/members", Map("limit" -> "100"))

  private val withHash = (df: org.apache.spark.sql.DataFrame) =>
    df.withColumn("source_hash", Fns.stableHash(16, col("member_code"), col("full_name")))

  private val twoMembers = Seq(
    """{"results":[{"member":{"memberCode":"m1","fullName":"Alice","isCurrent":"true"}},
      |{"person":{"code":"m2","showAs":"Bob"}}]}""".stripMargin.replaceAll("\n", ""))

  test("full lifecycle: build → promote → resolve → incremental upsert") {
    val root = Files.createTempDirectory("graft_silver").toString
    val store = BatchStore.local(root, () => "2026-01-01T00:00:00+00:00")

    // batch 1: two members
    val r1 = SilverBuilder.build(spark, store, root, "b1", spec, flattenSpec,
      fetchFrom(twoMembers), withHash, snapshotDate = "2026-01-01")
    assert(r1.ok && r1.dqStatus == "pass" && r1.rowCount == 2)

    store.assembleBatchManifest("b1", Seq("silver_members"))
    store.promoteBatch("b1")
    val resolved = store.resolveProductionKey("latest/parquet/silver_members.parquet")
    val t1 = spark.read.parquet(s"$root/$resolved")
    assert(t1.count() == 2)
    assert(t1.filter(col("member_code") === "m1").select("full_name")
      .collect().head.getString(0) == "Alice")

    // batch 2: m2 renamed + m3 new → upsert keeps m1, updates m2, adds m3
    val r2 = SilverBuilder.build(spark, store, root, "b2", spec, flattenSpec,
      fetchFrom(Seq(
        """{"results":[{"member":{"memberCode":"m2","fullName":"Bobby","isCurrent":"true"}},
          |{"member":{"memberCode":"m3","fullName":"Cara"}}]}""".stripMargin.replaceAll("\n", ""))),
      withHash, snapshotDate = "2026-02-01")
    assert(r2.ok && r2.rowCount == 3)

    store.assembleBatchManifest("b2", Seq("silver_members"))
    store.promoteBatch("b2")
    val t2 = spark.read.parquet(
      s"$root/${store.resolveProductionKey("latest/parquet/silver_members.parquet")}")
    val byCode = t2.collect().map(r => r.getAs[String]("member_code") -> r.getAs[String]("full_name")).toMap
    assert(byCode == Map("m1" -> "Alice", "m2" -> "Bobby", "m3" -> "Cara"))

    // rollback: previous pointer returns the b1 view
    store.rollbackPrevious()
    val t3 = spark.read.parquet(
      s"$root/${store.resolveProductionKey("latest/parquet/silver_members.parquet")}")
    assert(t3.count() == 2)
  }

  test("failed fetch short-circuits without writes") {
    val root = Files.createTempDirectory("graft_silver2").toString
    val store = BatchStore.local(root)
    val badTransport = new HttpTransport {
      def get(url: String, params: Map[String, String]) = HttpResult(500, "boom")
    }
    val r = SilverBuilder.build(spark, store, root, "b1", spec, flattenSpec,
      () => new RestSource.Client(badTransport, "https://api.test", retries = 2, sleeper = _ => ())
        .getPaginated("/members", Map("limit" -> "10")),
      identity, snapshotDate = "2026-01-01")
    assert(!r.ok && r.stopReason == "page_error")
    assert(store.readJsonIfExists(store.batchEntryKey("b1", "silver_members")).isEmpty)
  }

  test("an unreadable promoted table fails the build instead of merging into empty") {
    val root = Files.createTempDirectory("graft_silver3").toString
    val store = BatchStore.local(root)
    assert(SilverBuilder.build(spark, store, root, "b1", spec, flattenSpec,
      fetchFrom(twoMembers), withHash, snapshotDate = "2026-01-01").ok)
    store.assembleBatchManifest("b1", Seq("silver_members"))
    store.promoteBatch("b1")

    // chop the footer (and its checksum) off every promoted part file
    val table = new java.io.File(root,
      store.resolveProductionKey("latest/parquet/silver_members.parquet"))
    val parts = table.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      Files.write(f.toPath, bytes.take(bytes.length / 2))
      new java.io.File(table, s".${f.getName}.crc").delete()
    }

    // the old fallback published b2 with only this cycle's rows and DQ "pass"
    intercept[Exception] {
      SilverBuilder.build(spark, store, root, "b2", spec, flattenSpec,
        fetchFrom(Seq("""{"results":[{"member":{"memberCode":"m3","fullName":"Cara"}}]}""")),
        withHash, snapshotDate = "2026-02-01")
    }
    assert(store.readJsonIfExists(store.batchEntryKey("b2", "silver_members")).isEmpty,
      "a failed merge must not record the table in the batch")
  }

  test("a promoted batch without the table merges into empty") {
    // refresh's first cycle: the promoted batch holds other tables only
    val root = Files.createTempDirectory("graft_silver4").toString
    val store = BatchStore.local(root)
    val votesKey = "latest/csv/silver_votes.csv"
    store.putBytes(store.batchKeyForProductionKey(votesKey, "b0"), "vote_id\nv1\n".getBytes("UTF-8"))
    store.recordBatchTable("b0", "silver_votes", 1, "pass", Seq("vote_id"), Seq("vote_id"),
      Seq(votesKey))
    assert(store.assembleBatchManifest("b0", Seq("silver_votes"))("status") == "validated")
    store.promoteBatch("b0")

    val r = SilverBuilder.build(spark, store, root, "b1", spec, flattenSpec,
      fetchFrom(twoMembers), withHash, snapshotDate = "2026-01-01")
    assert(r.ok && r.dqStatus == "pass" && r.rowCount == 2)
  }
}

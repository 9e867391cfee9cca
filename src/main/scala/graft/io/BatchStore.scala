package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Copy-on-write batch publication with an atomic production pointer
  * (SURVEY §2.1 S10; reference extract/oireachtas/batch.py). Tables are
  * published under immutable `batches/<id>/…` prefixes; readers resolve
  * logical "latest" keys through a single pointer object, promotion
  * rewrites only the pointer, rollback repoints to a prior batch (or the
  * legacy direct layout). Runs over any Hadoop FileSystem (file://, s3a://)
  * — which is what makes the same code correct on a laptop and a cluster.
  */
final class BatchStore(fs: FileSystem, root: String,
                       now: () => String = BatchStore.defaultNow) {
  import BatchStore._

  private def p(key: String) = new Path(root.stripSuffix("/") + "/" + key)

  /** Absolute location of `key` in this store — for callers that need
    * to hand the path to filesystem-level primitives (IndexMeta claim
    * dirs guarding a pointer's read-modify-write, not store objects).
    */
  def objectPath(key: String): String = p(key).toString

  def productionPointerKey: String = "pointers/production.json"
  def previousPointerKey: String = "pointers/previous.json"
  def batchManifestKey(batchId: String): String =
    s"batches/${validateBatchId(batchId)}/manifest.json"
  def batchEntryKey(batchId: String, table: String): String =
    s"batches/${validateBatchId(batchId)}/entries/${safeComponent(table)}.json"

  /** Map a mutable production key to its immutable batch location
    * (batch.py:53-75).
    */
  def batchKeyForProductionKey(key: String, batchId: String): String = {
    val id = validateBatchId(batchId)
    key match {
      case LatestPattern(format, table, ext) =>
        s"batches/$id/tables/$table/$format/$table.$ext"
      case ReviewPattern(table, filename) =>
        s"batches/$id/review/$table/$filename"
      case k if k.startsWith("compat/") =>
        val rel = k.stripPrefix("compat/")
        require(rel.nonEmpty && !rel.split("/").contains(".."), s"Unsafe compat key: $k")
        s"batches/$id/compat/$rel"
      case _ => throw new IllegalArgumentException(s"Not a supported mutable key: $key")
    }
  }

  /** Resolve a logical production key through the current pointer
    * (batch.py:77-88).
    */
  def resolveProductionKey(productionKey: String): String = {
    val pointer = readJsonIfExists(productionPointerKey)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"Production pointer does not exist: $root/$productionPointerKey"))
    pointer.getOrElse("mode", BatchMode) match {
      case LegacyDirectMode => productionKey
      case BatchMode =>
        batchKeyForProductionKey(productionKey,
          validateBatchId(str(pointer.get("batch_id"))))
      case other => throw new IllegalArgumentException(s"Unsupported pointer mode: $other")
    }
  }

  /** Record one table's entry for later manifest assembly (batch.py:91-130). */
  def recordBatchTable(batchId: String, table: String,
                       rowCount: Long, dqStatus: String,
                       primaryKey: Seq[String], columns: Seq[String],
                       candidateKeys: Seq[String]): Map[String, Any] = {
    val id = validateBatchId(batchId)
    val objects = candidateKeys.filter(_.nonEmpty).map { key =>
      val bk = batchKeyForProductionKey(key, id)
      Map("logical_key" -> key, "batch_key" -> bk, "exists" -> fs.exists(p(bk)))
    }
    val entry = Map(
      "batch_id" -> id,
      "table" -> table,
      "recorded_at_utc" -> now(),
      "status" -> (if (dqStatus == "pass") "validated" else "failed"),
      "dq_status" -> dqStatus,
      "row_count" -> rowCount,
      "primary_key" -> primaryKey,
      "schema_columns" -> columns,
      "objects" -> objects)
    putJson(batchEntryKey(id, table), entry)
    entry
  }

  /** Assemble + validate the batch manifest (batch.py:133-177): required
    * tables present, every entry validated with DQ pass, all objects
    * exist, no duplicate tables.
    */
  def assembleBatchManifest(batchId: String, requiredTables: Seq[String]): Map[String, Any] = {
    val id = validateBatchId(batchId)
    val entriesDir = p(s"batches/$id/entries")
    val entries: Seq[Map[String, Any]] =
      if (!fs.exists(entriesDir)) Nil
      else fs.listStatus(entriesDir).toSeq.filter(_.isFile)
        .sortBy(_.getPath.getName)
        .map(s => asMap(StableJson.parse(readString(s.getPath))))
    val required = requiredTables.map(safeComponent).distinct.sorted
    val byTable = entries.map(e => str(e.get("table")) -> e).toMap
    val missingTables = (required.toSet -- byTable.keySet).toSeq.sorted
    val failedTables = byTable.collect {
      case (t, e) if str(e.get("status")) != "validated" || str(e.get("dq_status")) != "pass" => t
    }.toSeq.sorted
    val missingObjects = entries.collect {
      case e if objectsOf(e).isEmpty || objectsOf(e).exists(o => o.get("exists") != Some(true)) =>
        str(e.get("table"))
    }.sorted
    val duplicateTables = entries.groupBy(e => str(e.get("table")))
      .collect { case (t, es) if es.size > 1 => t }.toSeq.sorted
    val status =
      if (entries.nonEmpty && missingTables.isEmpty && failedTables.isEmpty &&
        missingObjects.isEmpty && duplicateTables.isEmpty) "validated" else "failed"
    val manifest = Map(
      "batch_id" -> id,
      "status" -> status,
      "created_at_utc" -> now(),
      "required_tables" -> required,
      "table_count" -> entries.size.toLong,
      "tables" -> entries.sortBy(e => str(e.get("table"))),
      "validation" -> Map(
        "missing_tables" -> missingTables,
        "failed_tables" -> failedTables,
        "missing_objects" -> missingObjects,
        "duplicate_tables" -> duplicateTables))
    putJson(batchManifestKey(id), manifest)
    manifest
  }

  /** Pointer-swap mutex key: [[promoteBatch]] / [[rollbackBatch]] /
    * [[rollbackPrevious]] are read-modify-writes of the
    * production/previous pointer PAIR — two unguarded promotes can both
    * read the same current pointer, both record it as "previous", and
    * the losing promote's generation disappears from the supersede
    * chain (rollbackPrevious then skips a real generation). The
    * reference's batch.py takes no lock (its
    * orchestrator is single-writer by convention); the claim changes
    * no single-writer output, it only makes the multi-writer
    * deployment safe.
    */
  def pointerSwapLockKey: String = "pointers/_swap.lock"

  private def withPointerClaim[T](body: => T): T =
    IndexMeta.withClaimVia(fs, objectPath(pointerSwapLockKey))(body)

  /** Promote a validated batch: single pointer overwrite, previous pointer
    * preserved for rollback (batch.py:180-219). Serialized under
    * [[pointerSwapLockKey]].
    */
  def promoteBatch(batchId: String, actor: String = ""): Map[String, Any] =
    withPointerClaim { promoteBatchUnlocked(batchId, actor) }

  private def promoteBatchUnlocked(batchId: String, actor: String): Map[String, Any] = {
    val id = validateBatchId(batchId)
    val manifest = readJsonIfExists(batchManifestKey(id))
      .getOrElse(throw new java.io.FileNotFoundException(s"No manifest for batch $id"))
    require(str(manifest.get("status")) == "validated",
      s"Batch $id is not validated; status=${manifest.get("status")}")
    val previous = readJsonIfExists(productionPointerKey) match {
      case Some(cur) => cur ++ Map(
        "superseded_at_utc" -> now(), "superseded_by_batch_id" -> id)
      case None => Map[String, Any](
        "mode" -> LegacyDirectMode, "captured_at_utc" -> now(),
        "superseded_at_utc" -> now(), "superseded_by_batch_id" -> id)
    }
    putJson(previousPointerKey, previous)
    val pointer = Map(
      "mode" -> BatchMode,
      "batch_id" -> id,
      "manifest_key" -> batchManifestKey(id),
      "promoted_at_utc" -> now(),
      "promoted_by" -> actor,
      "previous_mode" -> previous.getOrElse("mode", BatchMode),
      "previous_batch_id" -> previous.getOrElse("batch_id", null))
    putJson(productionPointerKey, pointer)
    pointer
  }

  /** Rollback to an earlier batch or to the legacy direct layout
    * (batch.py:222-263). Serialized under [[pointerSwapLockKey]].
    */
  def rollbackBatch(targetBatchId: String, actor: String = ""): Map[String, Any] =
    withPointerClaim { rollbackBatchUnlocked(targetBatchId, actor) }

  private def rollbackBatchUnlocked(targetBatchId: String, actor: String): Map[String, Any] = {
    val current = readJsonIfExists(productionPointerKey)
    if (targetBatchId == LegacyDirectMode) {
      current.foreach { cur =>
        putJson(previousPointerKey, cur ++ Map(
          "superseded_at_utc" -> now(), "superseded_by_mode" -> LegacyDirectMode))
      }
      val pointer = Map(
        "mode" -> LegacyDirectMode,
        "operation" -> "rollback",
        "rolled_back_from_batch_id" -> current.map(c => str(c.get("batch_id"))).orNull,
        "rolled_back_at_utc" -> now(),
        "promoted_by" -> actor)
      putJson(productionPointerKey, pointer)
      pointer
    } else {
      val pointer = promoteBatchUnlocked(targetBatchId, actor) ++ Map(
        "operation" -> "rollback",
        "rolled_back_from_batch_id" -> current.map(c => str(c.get("batch_id"))).orNull,
        "rolled_back_at_utc" -> now())
      putJson(productionPointerKey, pointer)
      pointer
    }
  }

  /** Rollback to whatever the previous pointer recorded
    * (batch.py:266-283). Serialized under [[pointerSwapLockKey]] — the
    * previous-pointer READ is part of the critical section, or a
    * concurrent promote between the read and the swap would roll back
    * to a generation that is no longer the previous one.
    */
  def rollbackPrevious(actor: String = ""): Map[String, Any] = withPointerClaim {
    val previous = readJsonIfExists(previousPointerKey)
      .getOrElse(throw new java.io.FileNotFoundException("No previous pointer"))
    val target = previous.getOrElse("mode", BatchMode) match {
      case LegacyDirectMode => LegacyDirectMode
      case _ => validateBatchId(str(previous.get("batch_id")))
    }
    rollbackBatchUnlocked(target, actor)
  }

  // --- low-level json/fs helpers ---

  def timestamp(): String = now()

  def exists(key: String): Boolean = fs.exists(p(key))

  /** Modification time (epoch millis) of an object, if present. */
  def lastModified(key: String): Option[Long] =
    if (!fs.exists(p(key))) None else Some(fs.getFileStatus(p(key)).getModificationTime)

  def readBytes(key: String): Array[Byte] = {
    val in = fs.open(p(key))
    try in.readAllBytes() finally in.close()
  }

  def putBytes(key: String, body: Array[Byte]): Unit = {
    val out = fs.create(p(key), true)
    try out.write(body) finally out.close()
  }

  /** Byte-copy one object within the store; returns the copied size. */
  def copyObject(sourceKey: String, destKey: String): Long = {
    val body = readBytes(sourceKey)
    putBytes(destKey, body)
    body.length.toLong
  }

  def putJson(key: String, value: Any): Unit = {
    val out = fs.create(p(key), true)
    try out.write(StableJson.write(value).getBytes("UTF-8"))
    finally out.close()
  }

  def readJsonIfExists(key: String): Option[Map[String, Any]] =
    if (!fs.exists(p(key))) None
    else Some(asMap(StableJson.parse(readString(p(key)))))

  private def readString(path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def objectsOf(e: Map[String, Any]): Seq[Map[String, Any]] =
    e.getOrElse("objects", Vector.empty) match {
      case v: Seq[_] => v.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      case _ => Nil
    }
}

object BatchStore {
  val BatchMode = "batch"
  val LegacyDirectMode = "legacy_direct"

  private val BatchIdPattern = "^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$".r
  private val LatestPattern = "^latest/(csv|parquet)/([^/]+)\\.(csv|parquet)$".r
  private val ReviewPattern = "^review/([^/]+)/latest/([^/]+)$".r

  def validateBatchId(batchId: String): String = {
    val v = Option(batchId).getOrElse("").trim
    require(BatchIdPattern.matches(v),
      "batch_id must begin alphanumeric and contain only letters, numbers, dots, underscores, hyphens (max 128)")
    v
  }

  def safeComponent(s: String): String = {
    val v = Option(s).getOrElse("").trim
    require(v.nonEmpty && !v.contains("/") && !v.contains(".."), s"Unsafe component: $s")
    v
  }

  def defaultNow(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())

  def local(root: String, now: () => String = defaultNow): BatchStore =
    new BatchStore(FileSystem.getLocal(new Configuration()), root, now)

  private def str(v: Option[Any]): String = v.map(String.valueOf).orNull
  private def asMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzException
import graft.operators.Sinks
import graft.sources.{DeletionVectors, DeltaCatalog, DvDescriptor, FsUtil, MetaCache}

/** Delta protocol conformance at the BYTE and GATE level: the portable
  * 64-bit RoaringBitmap deletion-vector format a foreign reader must be
  * able to decode, the writer-side protocol gate (the mirror of the
  * reader gate — a table demanding writer semantics this engine lacks
  * must fail loudly before any commit), checkpoint snapshot pinning under
  * a mid-checkpoint commit, and sync's loud failure on a mid-span column
  * re-mapping. */
class DeltaProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def twoFileTable(dir: String): Unit = {
    Sinks.deltaAppend(
      (0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    Sinks.deltaAppend(
      (100L until 110L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
  }

  private def allIds(dir: String): Seq[Long] = {
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "proto_read")
    cat.read(spark, cat.files).select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  // ---- byte-level deletion-vector format ----

  test("Z85 and UUID encodings round-trip and reject malformed input") {
    val u = java.util.UUID.randomUUID()
    assert(DeletionVectors.encodeUUID(u).length === 20)
    assert(DeletionVectors.decodeUUID(DeletionVectors.encodeUUID(u)) === u)
    val bytes = Array.tabulate(32)(i => (i * 7 - 100).toByte)
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(bytes)).toSeq === bytes.toSeq)
    intercept[BuzzException.BadRequest](DeletionVectors.z85Decode("abc"))
    intercept[BuzzException.BadRequest](DeletionVectors.z85Decode("~~~~~"))
  }

  test("portable bitmap serialization round-trips 64-bit row indexes") {
    // spans multiple high-word buckets: the 64-bit extension of the format
    val rows = Array(0L, 1L, 5L, 1000000L, (1L << 32) + 3L, (1L << 33) + 7L)
    val data = DeletionVectors.serializeRows(rows)
    // magic is little-endian at the head, per the portable format
    val magic = (data(0) & 0xff) | ((data(1) & 0xff) << 8) |
      ((data(2) & 0xff) << 16) | ((data(3) & 0xff) << 24)
    assert(magic === DeletionVectors.Magic)
    assert(DeletionVectors.deserializeRows(data).toSeq === rows.toSeq)
    intercept[BuzzException.ExecutionError](
      DeletionVectors.deserializeRows(Array[Byte](1, 2, 3, 4, 0, 0, 0, 0)))
  }

  test("vector files frame multiple bitmaps with offsets, CRCs and true cardinality") {
    val dir = tmpDir("dv_frames")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fsys = root.getFileSystem(conf)
    val entries = Seq(
      "fileA" -> Array(1L, 2L, 3L),
      "fileB" -> Array(10L, (1L << 32) + 1L),
      "fileC" -> Array(0L))
    val (pathOrInline, described) = DeletionVectors.writeDvFile(fsys, root, entries)
    assert(described.map(_._1) === Seq("fileA", "fileB", "fileC"))
    described.foreach { case (k, d) =>
      assert(d.storageType === "u")
      assert(d.pathOrInlineDv === pathOrInline)
      val expected = entries.toMap.apply(k)
      assert(d.cardinality === expected.length.toLong)
      val resolved = DeletionVectors.resolve(dir, d)
      // the derived file name embeds the descriptor's UUID
      assert(resolved.pathOrInline.contains("deletion_vector_"))
      assert(DeletionVectors.readRows(conf, resolved).toSeq === expected.toSeq)
    }
    // distinct frames at distinct offsets; the file leads with version 1
    assert(described.map(_._2.offset.get).distinct.size === 3)
    assert(described.head._2.offset.get === 1)
    // corrupting a byte inside a frame must fail the CRC, never return
    // silently fewer deletions
    val vecFile = DeletionVectors.resolve(dir, described.head._2).pathOrInline
    val raw = Files.readAllBytes(Paths.get(new java.net.URI(
      if (vecFile.startsWith("file:")) vecFile else s"file:$vecFile")))
    raw(7) = (raw(7) ^ 0x5a).toByte
    Files.write(Paths.get(new java.net.URI(
      if (vecFile.startsWith("file:")) vecFile else s"file:$vecFile")), raw)
    val crcSidecar = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(vecFile).getParent,
      "." + new org.apache.hadoop.fs.Path(vecFile).getName + ".crc")
    fsys.delete(crcSidecar, false)
    intercept[BuzzException.ExecutionError](
      DeletionVectors.readRows(conf, DeletionVectors.resolve(dir, described.head._2)))
  }

  test("descriptor JSON round-trips; absent sizing on a present descriptor is malformed") {
    import org.json4s.jackson.JsonMethods
    val d = DvDescriptor("u", "ab3(Q'+)yv4sBFu{pTmj", Some(1), 42, 7L)
    val roundTripped = DeletionVectors.fromJson(DeletionVectors.toJson(d))
    assert(roundTripped === Some(d))
    assert(DeletionVectors.fromJson(org.json4s.JNothing) === None)
    intercept[BuzzException.BadRequest](DeletionVectors.fromJson(JsonMethods.parse(
      """{"storageType":"u","pathOrInlineDv":"ab3(Q'+)yv4sBFu{pTmj"}""")))
  }

  test("a committed descriptor is decodable by a FOREIGN reader from the log JSON alone") {
    // re-derive the deleted rows using nothing but the commit's JSON and
    // the byte-format spec — the interop a conformant external reader does
    val dir = tmpDir("dv_foreign")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id IN (3, 5, 104)")
    val head = DeltaCatalog.latestVersion(spark, s"$dir/_delta_log")
    val body = Files.readString(Paths.get(f"$dir/_delta_log/$head%020d.json"))
    val descs = body.linesIterator.filter(_.contains("\"add\"")).flatMap { line =>
      val v = org.json4s.jackson.JsonMethods.parse(line)
      DeletionVectors.fromJson(v \ "add" \ "deletionVector")
    }.toSeq
    assert(descs.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    val decoded = descs.map(d =>
      DeletionVectors.readRows(conf, DeletionVectors.resolve(dir, d)).length.toLong)
    assert(decoded.sum === 3L)
    assert(descs.map(_.cardinality).sum === 3L)
    descs.foreach(d => assert(d.sizeInBytes > 0 && d.offset.nonEmpty))
  }

  test("RESTORE and CLONE re-emit carried descriptors at TRUE cardinality") {
    val dir = tmpDir("dv_carry")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5") // v2
    Sinks.deltaRestore(spark, dir, 1L)                          // v3: clears
    Sinks.deltaRestore(spark, dir, 2L)                          // v4: reinstates
    val restored = DeltaCatalog.dvsByRaw(spark, dir).values.toSeq
    assert(restored.map(_.cardinality) === Seq(3L))
    assert(restored.forall(d => d.sizeInBytes > 0 && d.offset.nonEmpty))
    val cloneDir = tmpDir("dv_carry_clone")
    Sinks.deltaCloneShallow(spark, dir, cloneDir)
    val cloned = DeltaCatalog.dvsByRaw(spark, cloneDir).values.toSeq
    assert(cloned.map(_.cardinality) === Seq(3L))
    // the clone's reference is an absolute "p" pointer at the SOURCE's
    // vector file, per the protocol's cross-table referencing
    assert(cloned.forall(_.storageType === "p"))
    assert(allIds(cloneDir) === ((0L to 2L) ++ (6L to 9L) ++ (100L to 109L)))
  }

  // ---- writer protocol gate ----

  private def plantProtocol(dir: String, json: String): Unit = {
    val commit0 = Paths.get(s"$dir/_delta_log/00000000000000000000.json")
    val body = Files.readString(commit0)
      .replaceAll("\\{\"protocol\":\\{[^}]*\\}\\}", json)
    Files.writeString(commit0, body)
    Files.deleteIfExists(
      Paths.get(s"$dir/_delta_log/.00000000000000000000.json.crc"))
  }

  /** Inject a `configuration` object into commit 0's metaData action —
    * how a FOREIGN engine's table arrives with active writer obligations. */
  private def plantConfiguration(dir: String, configJson: String): Unit = {
    val commit0 = Paths.get(s"$dir/_delta_log/00000000000000000000.json")
    val body = Files.readString(commit0).replaceFirst(
      "\"partitionColumns\":\\[\\]",
      s""""partitionColumns":[],"configuration":${
        java.util.regex.Matcher.quoteReplacement(configJson)}""")
    assert(body.contains("\"configuration\""), "fixture drift: metaData not found")
    Files.writeString(commit0, body)
    Files.deleteIfExists(
      Paths.get(s"$dir/_delta_log/.00000000000000000000.json.crc"))
  }

  /** Tag commit 0's schemaString field `name` with `metadataJson` (e.g. a
    * delta.invariants declaration), via a real JSON round-trip. */
  private def plantFieldMetadata(dir: String, name: String, metadataJson: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def put(o: JValue, key: String, value: JValue): JObject = {
      val JObject(fs) = o: @unchecked
      JObject(fs.filterNot(_._1 == key) :+ (key -> value))
    }
    val commit0 = Paths.get(s"$dir/_delta_log/00000000000000000000.json")
    val rewritten = Files.readString(commit0).linesIterator.map { line =>
      val v = JsonMethods.parse(line)
      v \ "metaData" match {
        case JNothing => line
        case meta =>
          val JString(schemaString) = (meta \ "schemaString"): @unchecked
          val schema = JsonMethods.parse(schemaString)
          val fields = (schema \ "fields").asInstanceOf[JArray].arr.map { f =>
            f \ "name" match {
              case JString(`name`) =>
                put(f, "metadata", JsonMethods.parse(metadataJson)): JValue
              case _ => f
            }
          }
          val newSchema = put(schema, "fields", JArray(fields))
          val newMeta = put(meta, "schemaString",
            JString(JsonMethods.compact(JsonMethods.render(newSchema))))
          JsonMethods.compact(JsonMethods.render(put(v, "metaData", newMeta)))
      }
    }.mkString("", "\n", "\n")
    Files.writeString(commit0, rewritten)
    Files.deleteIfExists(
      Paths.get(s"$dir/_delta_log/.00000000000000000000.json.crc"))
  }

  test("every writer fails loudly on a table demanding an unimplemented writer feature") {
    val dir = tmpDir("writer_gate")
    twoFileTable(dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
      """"writerFeatures":["rowTracking"]}}""")
    val writers: Seq[(String, () => Any)] = Seq(
      "append" -> (() => Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir)),
      "delete where" -> (() => Sinks.deltaDeleteWhere(spark, dir, "id = 3")),
      "dv delete" -> (() => Sinks.deltaDeleteVectors(spark, dir, "id = 3")),
      "merge" -> (() => Sinks.deltaMerge(spark, dir, Seq((3L, 9L)).toDF("id", "v"), "id")),
      "update" -> (() => Sinks.deltaUpdate(spark, dir, "id = 3", Map("v" -> "0"))),
      "optimize" -> (() => Sinks.deltaOptimize(spark, dir)),
      "restore" -> (() => Sinks.deltaRestore(spark, dir, 0L)),
      "checkpoint" -> (() => Sinks.deltaCheckpoint(spark, dir)),
      "vacuum" -> (() => Sinks.deltaVacuum(spark, dir)),
      "rename column" -> (() => Sinks.deltaRenameColumn(spark, dir, "v", "w")),
      "drop column" -> (() => Sinks.deltaDropColumn(spark, dir, "v")))
    writers.foreach { case (name, run) =>
      val e = intercept[BuzzException.NotImplemented](run())
      assert(e.getMessage.contains("rowTracking"), s"$name failed wrong: ${e.getMessage}")
    }
    // nothing committed: the head is still the planted table's v1
    assert(DeltaCatalog.latestVersion(spark, s"$dir/_delta_log") === 1L)
    // reads stay fine — the gate is writer-side only
    assert(allIds(dir).size === 20)
  }

  test("a legacy minWriterVersion above the implemented tiers fails loudly") {
    val dir = tmpDir("writer_gate_ver")
    twoFileTable(dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":8}}""")
    val e = intercept[BuzzException.NotImplemented](
      Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir))
    assert(e.getMessage.contains("writer protocol 8"))
  }

  test("legacy v4/v6 writer tiers gate their implied features when active") {
    // minWriterVersion=6 implies identityColumns: inert without identity
    // metadata, loud once a field declares it
    val dir = tmpDir("writer_gate_v6")
    twoFileTable(dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""")
    Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir) // inert: passes
    plantFieldMetadata(dir, "id", """{"delta.identity.start":1}""")
    val e = intercept[BuzzException.NotImplemented](
      Sinks.deltaAppend(Seq((201L, 1L)).toDF("id", "v"), dir))
    assert(e.getMessage.contains("identity"))
    // minWriterVersion=4 implies changeDataFeed: IMPLEMENTED since r11 —
    // an ACTIVE delta.enableChangeDataFeed is accepted, appends derive as
    // inserts, and row-level DML stages protocol _change_data files
    // (DeltaChangeFeedSpec holds the full feed contract)
    val dir2 = tmpDir("writer_gate_v4")
    twoFileTable(dir2)
    plantProtocol(dir2, """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""")
    Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir2) // inert: passes
    plantConfiguration(dir2, """{"delta.enableChangeDataFeed":"true"}""")
    Sinks.deltaAppend(Seq((201L, 1L)).toDF("id", "v"), dir2) // active: STILL passes
    val v = Sinks.deltaDeleteWhere(spark, dir2, "id = 201")
    val commitBody = Files.readString(
      Paths.get(f"$dir2/_delta_log/$v%020d.json"))
    assert(commitBody.contains("\"cdc\""),
      "DML on a CDF-active table must commit cdc actions")
    assert(Files.exists(Paths.get(s"$dir2/_change_data")),
      "DML on a CDF-active table must stage _change_data files")
  }

  test("invariants hide on NESTED fields too") {
    val dir = tmpDir("writer_gate_nested")
    Sinks.deltaAppend(
      spark.sql("SELECT 1L AS id, named_struct('x', 2L) AS s"), dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    // tag the NESTED field s.x with an invariant via a JSON round-trip
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val commit0 = Paths.get(s"$dir/_delta_log/00000000000000000000.json")
    val rewritten = Files.readString(commit0).linesIterator.map { line =>
      val v = JsonMethods.parse(line)
      v \ "metaData" match {
        case JNothing => line
        case meta =>
          val JString(schemaString) = (meta \ "schemaString"): @unchecked
          val marked = schemaString.replace(
            """{"name":"x","type":"long","nullable":false,"metadata":{}}""",
            """{"name":"x","type":"long","nullable":false,"metadata":{"delta.invariants":"x > 0"}}""")
          assert(marked != schemaString, "fixture drift: nested field not found")
          val JObject(fs) = meta: @unchecked
          val newMeta = JObject(fs.filterNot(_._1 == "schemaString") :+
            ("schemaString" -> (JString(marked): JValue)))
          val JObject(top) = v: @unchecked
          JsonMethods.compact(JsonMethods.render(
            JObject(top.filterNot(_._1 == "metaData") :+ ("metaData" -> (newMeta: JValue)))))
      }
    }.mkString("", "\n", "\n")
    Files.writeString(commit0, rewritten)
    Files.deleteIfExists(
      Paths.get(s"$dir/_delta_log/.00000000000000000000.json.crc"))
    val e = intercept[BuzzException.NotImplemented](
      Sinks.deltaAppend(spark.sql("SELECT 2L AS id, named_struct('x', 3L) AS s"), dir))
    assert(e.getMessage.contains("invariants"))
  }

  test("the pre-r10 DV dialect parses as LEGACY (read-only); vacuum leaves _dv alone") {
    import org.json4s.jackson.JsonMethods
    // r11: the legacy dialect no longer bricks replay — it parses into a
    // descriptor that resolves as the read-only "legacy" kind (the full
    // read/migrate contract lives in DeltaLegacyDvSpec)
    val d = graft.sources.DeletionVectors.fromJson(JsonMethods.parse(
      """{"storageType":"p","pathOrInlineDv":"_dv/delete-abc","cardinality":3}""")).get
    assert(graft.sources.DeletionVectors.isLegacy(d))
    assert(graft.sources.DeletionVectors.resolve("/t", d).storageType == "legacy")
    // vacuum never reaches into a legacy _dv directory
    val dir = tmpDir("legacy_dv_dir")
    twoFileTable(dir)
    val legacy = Paths.get(s"$dir/_dv")
    Files.createDirectories(legacy)
    Files.writeString(legacy.resolve("part-0000.parquet"), "legacy-bytes")
    Sinks.deltaVacuum(spark, dir)
    assert(Files.exists(legacy.resolve("part-0000.parquet")))
  }

  test("appendOnly admits appends and rejects everything row-deleting") {
    val dir = tmpDir("writer_gate_ao")
    twoFileTable(dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
      """"writerFeatures":["appendOnly"]}}""")
    // feature declared but delta.appendOnly unset: everything passes
    Sinks.deltaDeleteVectors(spark, dir, "id = 9")
    // now ACTIVATE the restriction in the table configuration
    plantConfiguration(dir, """{"delta.appendOnly":"true"}""")
    val v = Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir) // allowed
    assert(v > 0)
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaDeleteWhere(spark, dir, "id = 3"))
    assert(e.getMessage.contains("appendOnly"))
    intercept[BuzzException.BadRequest](
      Sinks.deltaDeleteVectors(spark, dir, "id = 3"))
  }

  test("invariants gate only when a schema field actually declares one") {
    val dir = tmpDir("writer_gate_inv")
    twoFileTable(dir)
    // legacy v2 demands invariants+appendOnly — INERT here (no invariant
    // declared, appendOnly not configured): upstream tables commonly sit
    // at (1,2) and must stay writable
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir)
    // now a schema field declares an invariant this engine cannot validate
    plantFieldMetadata(dir, "v",
      """{"delta.invariants":"{\"expression\":{\"expression\":\"v > 0\"}}"}""")
    val e = intercept[BuzzException.NotImplemented](
      Sinks.deltaAppend(Seq((201L, 1L)).toDF("id", "v"), dir))
    assert(e.getMessage.contains("invariants"))
  }

  test("checkConstraints gate keys off delta.constraints.* configuration") {
    val dir = tmpDir("writer_gate_chk")
    twoFileTable(dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
      """"writerFeatures":["checkConstraints"]}}""")
    Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir) // inert: no constraint
    plantConfiguration(dir, """{"delta.constraints.positive":"v > 0"}""")
    val e = intercept[BuzzException.NotImplemented](
      Sinks.deltaAppend(Seq((201L, 1L)).toDF("id", "v"), dir))
    assert(e.getMessage.contains("CHECK constraints"))
  }

  test("self-written tables stay writable through the gate") {
    val dir = tmpDir("writer_gate_self")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id = 3") // raises to v7 feature list
    Sinks.deltaRenameColumn(spark, dir, "v", "w")  // adds columnMapping
    Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "w"), dir)
    Sinks.deltaDeleteWhere(spark, dir, "id = 200")
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    assert(allIds(dir) === ((0L to 2L) ++ (4L to 9L) ++ (100L to 109L)))
  }

  // ---- checkpoint snapshot pinning ----

  test("a commit landing mid-checkpoint is never half-absorbed, even with cleanCommits") {
    val dir = tmpDir("cp_pin")
    twoFileTable(dir) // v0, v1
    Sinks.onCheckpointPinned = () =>
      Sinks.deltaAppend((300L until 310L).map(i => (i, i)).toDF("id", "v").coalesce(1), dir)
    try Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    finally Sinks.onCheckpointPinned = () => ()
    // the checkpoint is stamped at the PINNED version (1): the concurrent
    // commit's JSON (v2) survives cleaning and replays on top — nothing
    // dropped, nothing double-counted
    val lc = Files.readString(Paths.get(s"$dir/_delta_log/_last_checkpoint"))
    assert(lc.contains("\"version\":1"))
    assert(Files.exists(Paths.get(f"$dir/_delta_log/${2L}%020d.json")))
    assert(allIds(dir) === ((0L to 9L) ++ (100L to 109L) ++ (300L to 309L)))
  }

  test("unexpired tombstones survive checkpoint cleaning; vacuum retention stays exact") {
    val dir = tmpDir("tomb_carry")
    twoFileTable(dir) // v0, v1
    val before = DeltaCatalog.fromDeltaLog(spark, dir, "tomb_pre").files.map(_.key).toSet
    Sinks.deltaDeleteWhere(spark, dir, "id >= 100") // v2: drops the 100s file whole
    val after = DeltaCatalog.fromDeltaLog(spark, dir, "tomb_post").files.map(_.key).toSet
    val removed = (before -- after).toSeq
    assert(removed.size === 1)
    val removedLocal = Paths.get(new java.net.URI(
      if (removed.head.startsWith("file:")) removed.head else s"file:${removed.head}"))
    // the removed file's BYTES look ancient: after commit cleaning, mtime
    // dating (the pre-r10 fallback) would reap it inside the window
    Files.setLastModifiedTime(removedLocal,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 30L * 24 * 3600 * 1000))
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    assert(!Files.exists(Paths.get(s"$dir/_delta_log/00000000000000000002.json")),
      "fixture drift: commits not cleaned")
    // the checkpoint carried the tombstone: a 1 h retention KEEPS the file
    Sinks.deltaVacuum(spark, dir, retainMs = 3600 * 1000L)
    assert(Files.exists(removedLocal),
      "tombstone lost across cleaning: retention reaped inside the window")
    // the current snapshot reads fine throughout (the kept file is not live)
    assert(allIds(dir).size === 10)
    // zero retention reaps it
    Sinks.deltaVacuum(spark, dir)
    assert(!Files.exists(removedLocal))
  }

  test("superseded DELETION VECTORS keep exact retention dating across cleaning") {
    val dir = tmpDir("tomb_dv_carry")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5") // v2: vector A
    Files.list(Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("deletion_vector_"))
      .forEach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 30L * 24 * 3600 * 1000)))
    Sinks.deltaDeleteVectors(spark, dir, "id IN (1, 7)") // v3 supersedes A
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    def vectors(): Long = Files.list(Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("deletion_vector_") &&
        p.getFileName.toString.endsWith(".bin")).count()
    assert(vectors() === 2)
    // v3's remove (carrying A's descriptor, stamped at supersede time)
    // rode the checkpoint: 1 h retention keeps A despite 30-day-old bytes
    Sinks.deltaVacuum(spark, dir, retainMs = 3600 * 1000L)
    assert(vectors() === 2)
    Sinks.deltaVacuum(spark, dir)
    assert(vectors() === 1)
  }

  test("writer obligations (configuration) survive checkpoint cleaning") {
    val dir = tmpDir("cfg_carry")
    twoFileTable(dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
      """"writerFeatures":["appendOnly"]}}""")
    plantConfiguration(dir, """{"delta.appendOnly":"true"}""")
    // active obligation before cleaning: row-level DML rejected
    intercept[BuzzException.BadRequest](Sinks.deltaDeleteWhere(spark, dir, "id = 3"))
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    assert(!Files.exists(Paths.get(s"$dir/_delta_log/00000000000000000000.json")),
      "fixture drift: commits not cleaned")
    // the obligation must still gate AFTER cleaning — dropping the
    // configuration from the checkpoint would silently disarm it
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaDeleteWhere(spark, dir, "id = 3"))
    assert(e.getMessage.contains("appendOnly"))
    Sinks.deltaAppend(Seq((200L, 1L)).toDF("id", "v"), dir) // appends still pass
    assert(allIds(dir).size === 21)
  }

  test("metaData re-declarations (rename/evolve/clone) carry configuration forward") {
    val dir = tmpDir("cfg_redeclare")
    twoFileTable(dir)
    plantProtocol(dir, """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
      """"writerFeatures":["appendOnly"]}}""")
    plantConfiguration(dir, """{"delta.appendOnly":"true"}""")
    // RENAME re-declares metaData — the obligation must survive it
    Sinks.deltaRenameColumn(spark, dir, "v", "w")
    intercept[BuzzException.BadRequest](Sinks.deltaDeleteWhere(spark, dir, "id = 3"))
    // additive evolution re-declares it again
    Sinks.deltaAppend(Seq((300L, 1L, "x")).toDF("id", "w", "tag"), dir,
      mergeSchema = true)
    intercept[BuzzException.BadRequest](Sinks.deltaDeleteWhere(spark, dir, "id = 3"))
    // a clone inherits the source's obligations
    val cloneDir = tmpDir("cfg_clone")
    Sinks.deltaCloneShallow(spark, dir, cloneDir)
    intercept[BuzzException.BadRequest](Sinks.deltaDeleteWhere(spark, cloneDir, "id = 3"))
    Sinks.deltaAppend(Seq((400L, 1L, "y")).toDF("id", "w", "tag"), cloneDir)
  }

  test("tombstoneRetainMs bounds the checkpoint's remove section") {
    val dir = tmpDir("tomb_bound")
    twoFileTable(dir)
    Sinks.deltaDeleteWhere(spark, dir, "id >= 100")
    // a checkpoint told to retain nothing carries no tombstones — the
    // knob that keeps the remove section retention-window-sized instead
    // of history-sized (callers align it with their vacuum retention)
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true, tombstoneRetainMs = 0L)
    assert(DeltaCatalog.tombstonesByRaw(spark, dir).isEmpty)
  }

  test("checkpoint add entries carry the spec-required dataChange=false and modificationTime") {
    val dir = tmpDir("cp_add_fields")
    twoFileTable(dir)
    val v = Sinks.deltaCheckpoint(spark, dir)
    val adds = spark.read
      .parquet(f"$dir/_delta_log/$v%020d.checkpoint.parquet")
      .where(col("add").isNotNull)
      .select(col("add.dataChange"), col("add.modificationTime"), col("add.path"))
      .collect()
    assert(adds.nonEmpty)
    adds.foreach { r =>
      assert(!r.getBoolean(0), "checkpoint add must carry dataChange=false")
      // each file's own time, so a checkpoint keeps its cache identity
      val mt = r.getLong(1)
      val onDisk = FsUtil.status(spark,
        s"$dir/${DeltaCatalog.decodePath(r.getString(2))}").getModificationTime
      assert(mt > 0 && mt == onDisk, s"modificationTime $mt is not the file's own ($onDisk)")
    }
  }

  test("a checkpoint with Delta-spec INT protocol versions replays") {
    import org.apache.spark.sql.types.IntegerType
    val dir = tmpDir("cp_int_protocol")
    twoFileTable(dir)
    val v = Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    // rewrite the checkpoint with int-typed protocol fields, as delta-rs
    // and Delta Spark write them
    val cpName = f"$v%020d.checkpoint.parquet"
    val cp = s"$dir/_delta_log/$cpName"
    val out = tmpDir("cp_int_protocol_out")
    spark.read.parquet(cp)
      .withColumn("protocol", col("protocol")
        .withField("minReaderVersion", col("protocol.minReaderVersion").cast(IntegerType))
        .withField("minWriterVersion", col("protocol.minWriterVersion").cast(IntegerType)))
      .coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(cp), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(Paths.get(s"$dir/_delta_log/.$cpName.crc")) // the old file's checksum
    val written = spark.read.parquet(cp)
    assert(written.select("protocol.minReaderVersion").schema.head.dataType == IntegerType)
    assert(written.where(col("protocol").isNotNull).count() == 1)
    MetaCache.reset()
    assert(allIds(dir) == ((0L until 10L) ++ (100L until 110L)))
  }

  test("vacuum refuses a window reaching below the tombstone expiry watermark; the floor is monotone") {
    val dir = tmpDir("vac_window")
    twoFileTable(dir)
    Sinks.deltaDeleteWhere(spark, dir, "id >= 100")
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true,
      tombstoneRetainMs = 60L * 60 * 1000) // 1 hour retained
    // a 2-hour vacuum window reaches below the watermark (tombstones the
    // checkpoint expired would date by mtime) — refuse loudly
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaVacuum(spark, dir, retainMs = 2L * 60 * 60 * 1000))
    assert(e.getMessage.contains("expiry watermark"))
    // a window INSIDE the watermark is served normally
    Sinks.deltaVacuum(spark, dir, retainMs = 30L * 60 * 1000)
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "vac_window_read")
    assert(cat.read(spark, cat.files).count() === 10L)
    // the floor is MONOTONE: re-checkpointing with a LONGER declared
    // retention (the r10-advice remedy) cannot resurrect what the first
    // checkpoint dropped — the 2-hour window still refuses
    Sinks.deltaAppend(Seq((300L, 1L)).toDF("id", "v"), dir)
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true,
      tombstoneRetainMs = 7L * 24 * 3600 * 1000)
    val e2 = intercept[BuzzException.BadRequest](
      Sinks.deltaVacuum(spark, dir, retainMs = 2L * 60 * 60 * 1000))
    assert(e2.getMessage.contains("expiry watermark"))
  }

  // ---- sync column re-mapping detection ----

  test("sync fails loudly on a mid-span RENAME and names the mapping change") {
    val src = tmpDir("sync_ren_src")
    val dst = tmpDir("sync_ren_dst")
    Sinks.deltaAppend((0L until 5L).map(i => (i, i * 2)).toDF("id", "v"), src)
    Sinks.deltaSync(spark, src, dst, "app1") // snapshot
    Sinks.deltaRenameColumn(spark, src, "v", "w")
    Sinks.deltaAppend((5L until 8L).map(i => (i, i * 2)).toDF("id", "w"), src)
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaSync(spark, src, dst, "app1"))
    assert(e.getMessage.contains("v->w"))
    assert(e.getMessage.contains("re-clone"))
    // purely ADDITIVE evolution still syncs (no re-mapping involved)
    val src2 = tmpDir("sync_add_src")
    val dst2 = tmpDir("sync_add_dst")
    Sinks.deltaAppend((0L until 5L).map(i => (i, i * 2)).toDF("id", "v"), src2)
    Sinks.deltaSync(spark, src2, dst2, "app2")
    Sinks.deltaAppend(
      (5L until 8L).map(i => (i, i * 2, i.toString)).toDF("id", "v", "tag"),
      src2, mergeSchema = true)
    Sinks.deltaSync(spark, src2, dst2, "app2")
    val cat = DeltaCatalog.fromDeltaLog(spark, dst2, "sync_add_read")
    assert(cat.read(spark, cat.files).count() === 8L)
  }
}

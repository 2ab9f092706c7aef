package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.UUID
import java.util.zip.CRC32

import scala.collection.immutable.SortedMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.json4s._
import org.roaringbitmap.RoaringBitmap

import graft.model.BuzzException

/** One `deletionVector` descriptor exactly as the Delta protocol stores it
  * in `add`/`remove` actions and checkpoints:
  *   - `storageType` "u": the vector lives in a file under the table root
  *     whose name derives from `pathOrInlineDv` = `<prefix><z85-uuid>`
  *     (the last 20 characters are the Z85-encoded UUID, the rest an
  *     optional directory prefix) as `<prefix>/deletion_vector_<uuid>.bin`;
  *   - "p": `pathOrInlineDv` is the ABSOLUTE path of the vector file
  *     (how a shallow clone references its source's vectors);
  *   - "i": the serialized bitmap itself rides inline, Z85-encoded.
  * `offset` is the byte position of the vector's length-prefixed frame in
  * the file (absent for "i"), `sizeInBytes` the byte size of the bitmap
  * data, `cardinality` the number of rows the vector deletes. */
final case class DvDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int],
    sizeInBytes: Int,
    cardinality: Long)

/** The descriptor resolved against its table root — what scans and GC
  * consume: `pathOrInline` is the absolute vector-file path ("u"/"p") or
  * the Z85 payload ("i"). Serializable: executors decode vectors. */
final case class ResolvedDv(
    storageType: String,
    pathOrInline: String,
    offset: Int,
    sizeInBytes: Int,
    cardinality: Long)

/** The Delta protocol's deletion-vector persistence: 64-bit row indexes in
  * the portable RoaringBitmap format (magic 1681511377, then the official
  * 64-bit spec: bitmap count, then per bucket a 4-byte high-word key and
  * the standard 32-bit RoaringBitmap serialization), framed in `.bin`
  * files as `<version byte 1>` then per vector
  * `<4B big-endian size><bitmap data><4B big-endian CRC-32>`. The 32-bit
  * bitmaps are produced/consumed by `org.roaringbitmap` (Spark's own
  * bundled copy of the reference implementation), so the on-disk bytes
  * are the interoperable format, not an engine dialect.
  *
  * The reference engine delegates this format to its Delta library
  * (`/root/reference/code/src/datasource/catalog/delta_catalog.rs`); here
  * it is implemented directly so DV'd tables this engine writes are
  * readable by any conformant Delta reader. */
object DeletionVectors {

  /** The portable-format magic number the Delta protocol mandates. */
  val Magic: Int = 1681511377

  /** Fixed on-disk file-format version byte. */
  val FormatVersion: Byte = 1

  // ---- Z85 (the RFC 32/ZeroMQ alphabet Delta's Base85 variant uses) ----

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val t = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => t(c.toInt) = i }
    t
  }

  /** Z85-encode `bytes` (length must be a multiple of 4): each 4-byte
    * big-endian group becomes 5 alphabet characters, most significant
    * first. */
  private[graft] def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"Z85 input must be 4-aligned, got ${bytes.length}")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85L * 85L * 85L
      while (div > 0) { sb.append(Z85Alphabet(((v / div) % 85).toInt)); div /= 85 }
      i += 4
    }
    sb.toString
  }

  /** Inverse of [[z85Encode]]; malformed input is a client error. */
  private[graft] def z85Decode(s: String): Array[Byte] = {
    if (s.length % 5 != 0)
      throw new BuzzException.BadRequest(s"Z85 input length ${s.length} not 5-aligned")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        if (d < 0)
          throw new BuzzException.BadRequest(s"invalid Z85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      val o = i / 5 * 4
      out(o) = ((v >>> 24) & 0xff).toByte
      out(o + 1) = ((v >>> 16) & 0xff).toByte
      out(o + 2) = ((v >>> 8) & 0xff).toByte
      out(o + 3) = (v & 0xff).toByte
      i += 5
    }
    out
  }

  /** The 20-character Z85 form of a UUID (16 big-endian bytes). */
  private[graft] def encodeUUID(u: UUID): String = {
    val b = java.nio.ByteBuffer.allocate(16)
    b.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    z85Encode(b.array())
  }

  private[graft] def decodeUUID(s: String): UUID = {
    val b = java.nio.ByteBuffer.wrap(z85Decode(s))
    new UUID(b.getLong, b.getLong)
  }

  /** Derive a "u" descriptor's absolute vector-file path: the last 20
    * characters of `pathOrInlineDv` are the encoded UUID, anything before
    * them an optional key-spreading directory prefix. */
  private[graft] def derivedPath(tablePath: String, pathOrInlineDv: String): String = {
    if (pathOrInlineDv.length < 20)
      throw new BuzzException.BadRequest(
        s"malformed deletion-vector pathOrInlineDv '$pathOrInlineDv' (need >= 20 chars)")
    val encoded = pathOrInlineDv.takeRight(20)
    val prefix = pathOrInlineDv.dropRight(20)
    val name = s"deletion_vector_${decodeUUID(encoded)}.bin"
    val rel = if (prefix.isEmpty) name else s"$prefix/$name"
    new Path(tablePath, rel).toString
  }

  /** Is `d` the pre-r10 ENGINE dialect — storageType "p" pointing at a
    * parquet sidecar DIRECTORY (`_dv/delete-<uuid>`, rows of
    * (`__path` [[legacySidecarPath]], `__ri` row index)) instead of the
    * protocol's framed `.bin` vector file? Kept readable (read-only) so
    * legacy tables and time travel to pre-migration versions still work;
    * [[graft.operators.Sinks.deltaMigrateDvs]] rewrites them into
    * protocol vectors in one commit. */
  private[graft] def isLegacy(d: DvDescriptor): Boolean =
    d.storageType == "p" && !d.pathOrInlineDv.endsWith(".bin")

  /** Resolve a log descriptor against its table root. */
  private[graft] def resolve(tablePath: String, d: DvDescriptor): ResolvedDv = d.storageType match {
    case "p" if isLegacy(d) =>
      // legacy sidecar paths were recorded RELATIVE to the table root
      ResolvedDv("legacy", new Path(tablePath, d.pathOrInlineDv).toString,
        0, d.sizeInBytes, d.cardinality)
    case "u" => ResolvedDv("u", derivedPath(tablePath, d.pathOrInlineDv),
      d.offset.getOrElse(throw new BuzzException.BadRequest(
        "deletion-vector descriptor with storageType 'u' lacks an offset")),
      d.sizeInBytes, d.cardinality)
    case "p" => ResolvedDv("p", d.pathOrInlineDv,
      d.offset.getOrElse(throw new BuzzException.BadRequest(
        "deletion-vector descriptor with storageType 'p' lacks an offset")),
      d.sizeInBytes, d.cardinality)
    case "i" => ResolvedDv("i", d.pathOrInlineDv, 0, d.sizeInBytes, d.cardinality)
    case other => throw new BuzzException.NotImplemented(
      s"unsupported deletion-vector storageType '$other'")
  }

  // ---- bitmap (de)serialization ----

  private def writeIntLE(out: DataOutputStream, v: Int): Unit =
    out.writeInt(Integer.reverseBytes(v))
  private def writeLongLE(out: DataOutputStream, v: Long): Unit =
    out.writeLong(java.lang.Long.reverseBytes(v))

  /** Serialize sorted 64-bit row indexes as the protocol's portable
    * bitmap data: magic, bucket count, then per high-word bucket its key
    * and the standard 32-bit RoaringBitmap bytes (run-optimized — still
    * the official format). */
  private[graft] def serializeRows(rows: Array[Long]): Array[Byte] = {
    var buckets = SortedMap.empty[Int, RoaringBitmap]
    rows.foreach { r =>
      require(r >= 0, s"negative row index $r")
      val hi = (r >>> 32).toInt
      val lo = r.toInt
      buckets.get(hi) match {
        case Some(b) => b.add(lo)
        case None =>
          val b = new RoaringBitmap(); b.add(lo); buckets += hi -> b
      }
    }
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeIntLE(out, Magic)
    writeLongLE(out, buckets.size.toLong)
    buckets.foreach { case (key, b) =>
      b.runOptimize()
      writeIntLE(out, key)
      b.serialize(out)
    }
    out.flush()
    bos.toByteArray
  }

  /** Inverse of [[serializeRows]]: decode portable bitmap data into sorted
    * 64-bit row indexes. */
  private[graft] def deserializeRows(data: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(data))
    val magic = Integer.reverseBytes(in.readInt())
    if (magic != Magic)
      throw new BuzzException.ExecutionError(
        s"deletion-vector bitmap has magic $magic, expected $Magic")
    val n = java.lang.Long.reverseBytes(in.readLong())
    if (n < 0 || n > Int.MaxValue)
      throw new BuzzException.ExecutionError(s"deletion-vector bucket count $n out of range")
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    var i = 0L
    while (i < n) {
      val key = Integer.reverseBytes(in.readInt()).toLong & 0xffffffffL
      val b = new RoaringBitmap()
      b.deserialize(in)
      b.forEach(new org.roaringbitmap.IntConsumer {
        override def accept(v: Int): Unit = out += (key << 32) | (v.toLong & 0xffffffffL)
      })
      i += 1
    }
    val arr = out.result()
    java.util.Arrays.sort(arr)
    arr
  }

  /** Write one `.bin` vector file holding each entry's serialized bitmap
    * in order, returning the per-entry descriptors (shared
    * `pathOrInlineDv`, individual offsets). `fs`-relative to nothing: the
    * caller owns placement; this writes `<dir>/deletion_vector_<uuid>.bin`
    * and returns the descriptors plus the file's UUID payload. */
  private[graft] def writeDvFile[K](
      fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      entries: Seq[(K, Array[Long])]): (String, Seq[(K, DvDescriptor)]) = {
    val uuid = UUID.randomUUID()
    val pathOrInlineDv = encodeUUID(uuid)
    val file = new Path(dir, s"deletion_vector_$uuid.bin")
    val out = new DataOutputStream(fs.create(file, false))
    val described = scala.collection.mutable.ListBuffer[(K, DvDescriptor)]()
    try {
      out.writeByte(FormatVersion.toInt)
      // Long, and LOUDLY bounded: descriptor offsets are Int in the
      // protocol schema, so a frame starting past Int.MaxValue cannot be
      // described — an Int accumulator would silently overflow into
      // negative/corrupt offsets instead
      var pos: Long = 1
      entries.foreach { case (k, rows) =>
        val data = serializeRows(rows)
        if (pos > Int.MaxValue.toLong)
          throw new BuzzException.ExecutionError(
            s"deletion-vector file $file grew past Int.MaxValue bytes — a " +
              "frame at this offset is not describable in the protocol's " +
              "Int offset field; split the write into more partitions")
        val crc = new CRC32()
        crc.update(data)
        out.writeInt(data.length) // big-endian length prefix
        out.write(data)
        out.writeInt(crc.getValue.toInt) // big-endian CRC-32
        described += k -> DvDescriptor("u", pathOrInlineDv, Some(pos.toInt),
          data.length, rows.length.toLong)
        pos += 4L + data.length + 4L
      }
    } finally out.close()
    (pathOrInlineDv, described.toList)
  }

  /** Decode one resolved vector into its sorted deleted row indexes —
    * executor-safe (plain Hadoop `Configuration`, no session). Verifies
    * the length prefix against the descriptor and the CRC-32 against the
    * bytes; a mismatch is corruption, never silently fewer deletions. */
  private[graft] def readRows(conf: Configuration, r: ResolvedDv): Array[Long] = r.storageType match {
    case "legacy" => throw new BuzzException.NotImplemented(
      s"deletion vector '${r.pathOrInline}' is the pre-r10 parquet-sidecar " +
        "dialect — scans decode it via deletedRowsDF; run " +
        "Sinks.deltaMigrateDvs(table) to rewrite it into the protocol's " +
        "RoaringBitmap format")
    case "i" => deserializeRows(z85Decode(r.pathOrInline))
    case _ =>
      val p = new Path(r.pathOrInline)
      val in = p.getFileSystem(conf).open(p)
      try {
        in.seek(r.offset.toLong)
        val stored = in.readInt() // big-endian
        if (stored != r.sizeInBytes)
          throw new BuzzException.ExecutionError(
            s"deletion vector at $p offset ${r.offset}: stored size $stored != " +
              s"descriptor sizeInBytes ${r.sizeInBytes}")
        val data = new Array[Byte](stored)
        in.readFully(data)
        val storedCrc = in.readInt()
        val crc = new CRC32()
        crc.update(data)
        if (storedCrc != crc.getValue.toInt)
          throw new BuzzException.ExecutionError(
            s"deletion vector at $p offset ${r.offset}: CRC mismatch")
        deserializeRows(data)
      } finally in.close()
  }

  // ---- log JSON round-trip ----

  /** Render a descriptor as the protocol's `deletionVector` JSON object. */
  private[graft] def toJson(d: DvDescriptor): JValue = {
    val base: List[(String, JValue)] = List(
      "storageType" -> JString(d.storageType),
      "pathOrInlineDv" -> JString(d.pathOrInlineDv))
    val withOffset = d.offset.fold(base)(o => base :+ ("offset" -> (JInt(o): JValue)))
    JObject(withOffset ++ List(
      "sizeInBytes" -> (JInt(d.sizeInBytes): JValue),
      "cardinality" -> (JLong(d.cardinality): JValue)))
  }

  /** Parse an action's `deletionVector` field; JNothing → None. Absent
    * sizing fields on a present descriptor are malformed, not defaulted —
    * a read that guessed them would mis-seek into the vector file. */
  private[graft] def fromJson(j: JValue): Option[DvDescriptor] = j match {
    case JNothing | JNull => None
    case o =>
      def str(f: String): Option[String] = o \ f match {
        case JString(s) if s.nonEmpty => Some(s)
        case _                        => None
      }
      def int(f: String): Option[Int] = o \ f match {
        case JInt(v)  => Some(v.toInt)
        case JLong(v) => Some(v.toInt)
        case _        => None
      }
      def lng(f: String): Option[Long] = o \ f match {
        case JInt(v)  => Some(v.toLong)
        case JLong(v) => Some(v)
        case _        => None
      }
      (str("storageType"), str("pathOrInlineDv")) match {
        case (Some(st), Some(p)) =>
          val card = lng("cardinality").getOrElse(throw new BuzzException.BadRequest(
            s"deletionVector descriptor lacks cardinality: ${JsonMethodsCompact(o)}"))
          // the pre-r10 engine dialect wrote {"storageType":"p", path to a
          // parquet sidecar dir, cardinality} with no sizing — READABLE
          // (read-only: [[deletedRowsDF]] decodes the sidecar), so legacy
          // tables and time travel keep working; deltaMigrateDvs rewrites
          // them into protocol `.bin` vectors
          if (st == "p" && !p.endsWith(".bin"))
            Some(DvDescriptor(st, p, int("offset"),
              int("sizeInBytes").getOrElse(0), card))
          else {
            val size = int("sizeInBytes").getOrElse(throw new BuzzException.BadRequest(
              s"deletionVector descriptor lacks sizeInBytes: ${JsonMethodsCompact(o)}"))
            Some(DvDescriptor(st, p, int("offset"), size, card))
          }
        case _ => None
      }
  }

  private def JsonMethodsCompact(j: JValue): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(j))

  /** How a pre-r10 parquet sidecar names a file: its scan path with the
    * scheme and the slashes after it collapsed to one `/` (`file:/x/y` →
    * `/x/y`). Only the legacy decode below reads this form, and only
    * `SparkEntry`'s legacy-sidecar fixture writes it. */
  private[graft] def legacySidecarPath(scanPath: String): String =
    scanPath.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")

  /** The deleted-row identity table of a set of resolved vectors, as a
    * DataFrame of (`__path` [[SizedFile.scanPath]], `__ri` row index),
    * from entries keyed by scan path — the build side
    * of the scan's anti-join and the merge input of a superseding DV
    * write. Decoding is DISTRIBUTED (one task per descriptor batch): at
    * 100 TB the union of a snapshot's vectors is deleted-rows-sized and
    * must never pass through the driver. */
  private[graft] def deletedRowsDF(
      spark: org.apache.spark.sql.SparkSession,
      entries: Seq[(String, ResolvedDv)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("__path", StringType, nullable = false),
      StructField("__ri", LongType, nullable = false)))
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // pre-r10 parquet-sidecar entries decode through Spark's own parquet
    // reader (the sidecar IS (`__path`, `__ri`) rows, each file named by
    // its [[legacySidecarPath]]); the join maps the stored name back to
    // the entry's scan path — the read-only legacy path that keeps old
    // tables and pre-migration time travel working
    val (legacy, protocol) = entries.partition(_._2.storageType == "legacy")
    val legacyDf: Option[org.apache.spark.sql.DataFrame] =
      if (legacy.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{broadcast, col}
        val stored = spark.createDataFrame(
          legacy.map { case (path, _) => (legacySidecarPath(path), path) }.distinct)
          .toDF("__stored", "__path")
        Some(spark.read.parquet(legacy.map(_._2.pathOrInline).distinct: _*)
          .select(col("__path").as("__stored"), col("__ri"))
          .join(broadcast(stored), "__stored")
          .select(col("__path"), col("__ri")))
      }
    val protocolDf: Option[org.apache.spark.sql.DataFrame] =
      if (protocol.isEmpty) None
      else {
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.SerializableWritable(spark.sparkContext.hadoopConfiguration))
        val slices = math.min(protocol.size, 32)
        val rdd = spark.sparkContext.parallelize(protocol, slices).flatMap {
          case (key, dv) =>
            readRows(confBc.value.value, dv).iterator.map(ri => Row(key, ri))
        }
        Some(spark.createDataFrame(rdd, schema))
      }
    (legacyDf, protocolDf) match {
      case (Some(l), Some(p)) => l.unionAll(p)
      case (Some(l), None)    => l
      case (None, Some(p))    => p
      case (None, None)       =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
  }
}

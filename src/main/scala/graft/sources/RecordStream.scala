package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, EOFException, InputStream, OutputStream}
import java.util.OptionalLong
import java.util.zip.{CRC32C, GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The record-stream framing: TFRecord-compatible length-prefixed
  * records (the reference's S2 scan reads exactly this shape —
  * gzipped TFRecord streams, trainer.py:185-186). Each record is
  *
  *   uint64 length (little-endian) | uint32 masked crc32c of the
  *   length bytes | payload | uint32 masked crc32c of the payload
  *
  * with TensorFlow's published crc mask ((c >> 15 | c << 17) +
  * 0xa282ead8). Corruption anywhere breaks a checksum and the reader
  * throws with file/record context instead of yielding garbage.
  */
object RecordStream {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  private val CrcMaskDelta = 0xa282ead8

  private def maskedCrc(bytes: Array[Byte]): Int = {
    val c = new CRC32C
    c.update(bytes, 0, bytes.length)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + CrcMaskDelta
  }

  private def leLong(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  private def readLeLong(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (b(i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  // TFRecord stores BOTH the length and the crc words little-endian;
  // DataOutputStream.writeInt is big-endian, so the crcs get the same
  // hand encoding as the length
  private def writeLeInt(out: DataOutputStream, v: Int): Unit = {
    out.write(v & 0xff)
    out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff)
    out.write((v >>> 24) & 0xff)
  }

  private def readLeInt(in: DataInputStream, b4: Array[Byte]): Int = {
    in.readFully(b4)
    (b4(0) & 0xff) | ((b4(1) & 0xff) << 8) | ((b4(2) & 0xff) << 16) |
      ((b4(3) & 0xff) << 24)
  }

  def writeRecord(out: DataOutputStream, payload: Array[Byte]): Unit = {
    val len = leLong(payload.length.toLong)
    out.write(len)
    writeLeInt(out, maskedCrc(len))
    out.write(payload)
    writeLeInt(out, maskedCrc(payload))
  }

  /** Reads one record; None at clean EOF; throws (with file/record
    * context) on truncation anywhere in the frame or on a checksum
    * mismatch.
    */
  def readRecord(in: DataInputStream, context: => String): Option[Array[Byte]] = {
    val lenBytes = new Array[Byte](8)
    val first = in.read(lenBytes, 0, 1)
    if (first < 0) return None
    val b4 = new Array[Byte](4)
    def truncated[A](read: => A): A =
      try read
      catch { case _: EOFException =>
        throw new java.io.IOException(s"truncated record at $context")
      }
    truncated(in.readFully(lenBytes, 1, 7))
    val lenCrc = truncated(readLeInt(in, b4))
    if (lenCrc != maskedCrc(lenBytes))
      throw new java.io.IOException(s"corrupt record length at $context")
    val len = readLeLong(lenBytes)
    if (len < 0 || len > Int.MaxValue)
      throw new java.io.IOException(s"implausible record length $len at $context")
    val payload = new Array[Byte](len.toInt)
    truncated(in.readFully(payload))
    val dataCrc = truncated(readLeInt(in, b4))
    if (dataCrc != maskedCrc(payload))
      throw new java.io.IOException(s"corrupt record payload at $context")
    Some(payload)
  }

  /** A record reader over `raw`; a gzipped stream inflates from a
    * 64 KiB input buffer (GZIPInputStream's default is 512 B).
    */
  def openRead(raw: InputStream, gz: Boolean): DataInputStream =
    new DataInputStream(
      if (gz) new BufferedInputStream(new GZIPInputStream(raw, 1 << 16),
        1 << 16)
      else new BufferedInputStream(raw, 1 << 16))

  def openWrite(raw: OutputStream, gz: Boolean): DataOutputStream =
    new DataOutputStream(
      if (gz) new BufferedOutputStream(new GZIPOutputStream(raw), 1 << 16)
      else new BufferedOutputStream(raw, 1 << 16))

  /** The ONE directory-listing used by both the batch scan and the
    * micro-batch stream — stream ≡ batch rests on both paths seeing
    * the same visible-file set, so the filter must not fork.
    */
  def listVisibleFiles(dir: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Map[String, RecordFilePartition] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName ->
        RecordFilePartition(s.getPath.toString, s.getLen))
      .toMap
  }

  /** Content key of a payload for the data-skipping manifest — FNV-1a
    * 64 over the raw bytes. Derivable from the payload ALONE, so the
    * write side (hashing records as they stream out) and the scan
    * planner (hashing a pushed equality literal) agree without any
    * stored per-record key; record framing stays TFRecord-compatible.
    */
  def payloadKey(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

/** Per-file data-skipping manifest for record-stream directories — the
  * file-level bloom index of table formats (Layout.bloomManifest's
  * machinery applied to the engine's own source): every batch write
  * also records, per emitted file, its record count and a bloom bitset
  * of the payload content keys, in a `_manifest-<queryId>.json`
  * sidecar (underscore-prefixed → never listed as data; one sidecar
  * per append, merged at read). The SCAN PLANNER consults the merged
  * manifest against pushed `value = X` equality literals and prunes
  * whole FILES before any task launches; files without coverage
  * (hand-written dirs, pre-manifest data) are always read — no false
  * negatives by construction, false positives bounded by the sketch's
  * FPR and caught by the residual filter Spark still applies.
  */
object RecordManifest {
  import graft.functions.BloomKernel

  val NumBits: Int = 1 << 17
  val NumHashes: Int = 5

  final case class FileEntry(nRecords: Long, bloom: Array[Byte])

  def manifestName(queryId: String): String = s"_manifest-$queryId.json"

  def write(fs: FileSystem, dir: String, queryId: String,
      entries: Seq[(String, FileEntry)]): Unit = {
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build()
    val root = mapper.createObjectNode()
    entries.foreach { case (name, e) =>
      val n = root.putObject(name)
      n.put("n", e.nRecords)
      n.put("bloom", java.util.Base64.getEncoder.encodeToString(e.bloom))
    }
    val out = fs.create(new Path(dir, manifestName(queryId)), true)
    try out.write(root.toString.getBytes("UTF-8")) finally out.close()
  }

  /** All manifest sidecars under `dir`, merged (file names are
    * queryId-unique across appends, so entries never conflict).
    */
  def readAll(dir: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Map[String, FileEntry] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Map.empty
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build()
    fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_manifest-"))
      .flatMap { s =>
        // a torn or corrupt sidecar (crash mid-write, truncation) must
        // read as ABSENT COVERAGE — its files simply aren't pruned —
        // never poison every filtered scan of the directory
        try {
          val in = fs.open(s.getPath)
          val node =
            try mapper.readTree(in)
            finally in.close()
          val it = node.fields()
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(String, FileEntry)]
          while (it.hasNext) {
            val e = it.next()
            buf += e.getKey -> FileEntry(e.getValue.get("n").asLong(),
              java.util.Base64.getDecoder
                .decode(e.getValue.get("bloom").asText()))
          }
          buf
        } catch { case _: Exception =>
          Nil
        }
      }.toMap
  }

  /** Might file `entry` contain a payload with any of `keys`? */
  def mightContain(entry: FileEntry, keys: Seq[Long]): Boolean = {
    if (entry.nRecords == 0L) return false
    val (bits, numBits, numHashes) = BloomKernel.deserialize(entry.bloom)
    keys.exists(k => BloomKernel.contains(bits, numBits, numHashes, k))
  }
}

/** DataSource V2 connector for record-stream files (SURVEY.md §2.1 S2
  * in its genuine form — the round-1 `binaryFile` mapping read whole
  * files; this reads the records INSIDE them). Spark-first shape:
  *
  *  - read: one InputPartition per data file. A gzipped record stream
  *    has no sync markers, so a file is the unit of parallelism — the
  *    reference accepts the same constraint and drives parallelism by
  *    file count (`cycle_length`-way interleave, trainer.py:216-219);
  *    the write side emits one file per task for the same reason.
  *  - column pruning: SupportsPushDownRequiredColumns — a `value`-only
  *    projection never materializes path strings; a metadata-only
  *    count never copies payloads.
  *  - stats: SupportsReportStatistics reports on-disk bytes so the
  *    planner can make broadcast decisions about record-stream scans
  *    (the same CatalogStatistics channel GraftAnalyze feeds).
  *  - write: each task streams its partition to `part-NNNNN-uuid` under
  *    a hidden staging dir; commit renames into place, abort deletes —
  *    a failed job never leaves half-written visible files.
  *
  * Registered as `recordstream` via DataSourceRegister; the payload is
  * opaque bytes, so there is deliberately no filter pushdown (nothing
  * row-level exists to push; parse happens downstream, P3-style).
  */
class RecordStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "recordstream"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RecordStream.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "recordstream requires a path (load(dir) / save(dir))")
    new RecordStreamTable(path,
      !"none".equalsIgnoreCase(properties.getOrDefault("compression", "gzip")))
  }
}

class RecordStreamTable(dir: String, gzip: Boolean)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"recordstream(`$dir`)"
  override def schema(): StructType = RecordStream.schema
  // ACCEPT_ANY_SCHEMA: writes carry ONE binary column (validated in
  // the WriteBuilder), not the 3-column read schema — path/offset are
  // read-side metadata the writer derives, exactly like a file source
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RecordStreamScanBuilder(dir)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new RecordStreamWriteBuilder(dir, gzip, info)
}

final case class RecordFilePartition(path: String, bytes: Long)
  extends InputPartition

class RecordStreamScanBuilder(dir: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = RecordStream.schema
  private var skipFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var skipKeys: Option[Seq[Long]] = None
  private var pathKeep: Option[Set[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Payload-equality filters feed FILE pruning through the bloom
    * manifest ([[RecordManifest]]), and `path` equality/IN literals
    * prune DIRECTLY (the path column is file-identifying — this is
    * the source's partition pruning). Everything — including the
    * accepted filters — stays residual (returned for Spark to
    * re-apply): manifest skipping has bloom false positives, and path
    * pruning is conservative metadata selection, never row-level
    * evaluation.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val keyed = filters.collect {
      case f @ EqualTo("value", b: Array[Byte]) =>
        f -> Seq(RecordStream.payloadKey(b))
      case f @ In("value", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Array[Byte]]) =>
        f -> vs.toSeq.map(v =>
          RecordStream.payloadKey(v.asInstanceOf[Array[Byte]]))
    }
    val pathed = filters.collect {
      case f @ EqualTo("path", s: String) => f -> Set(s)
      case f @ In("path", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        f -> vs.map(_.asInstanceOf[String]).toSet
    }
    if (keyed.nonEmpty) {
      skipKeys = Some(keyed.flatMap(_._2).toSeq)
    }
    if (pathed.nonEmpty) {
      // several path predicates AND together: intersect the keep-sets
      pathKeep = Some(pathed.map(_._2).reduce(_ intersect _))
    }
    skipFilters = keyed.map(_._1) ++ pathed.map(_._1)
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    skipFilters

  override def build(): Scan = {
    val session = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(
      session.sessionState.newHadoopConf())
    // same knob file sources use to de-bias compressed on-disk sizes
    // before they feed broadcast decisions
    val compressionFactor = session.sessionState.conf.fileCompressionFactor
    new RecordStreamScan(dir, required, conf, compressionFactor, skipKeys,
      pathKeep)
  }
}

class RecordStreamScan(dir: String, required: StructType,
    conf: SerializableConfiguration, compressionFactor: Double,
    skipKeys: Option[Seq[Long]] = None,
    pathKeep: Option[Set[String]] = None)
    extends Scan with Batch with SupportsReportStatistics {

  private lazy val allFiles: Array[RecordFilePartition] =
    RecordStream.listVisibleFiles(dir, conf.value)
      .toArray.sortBy(_._1).map(_._2)

  /** Files surviving pruning: a PLANNER step — path literals select
    * files directly (partition pruning), the merged bloom manifest
    * (files-sized metadata) probes payload keys on the driver, all
    * before any task launches — exactly where table formats evaluate
    * their data-skipping indexes. Files without manifest coverage
    * always survive the bloom step (no false negatives).
    */
  private lazy val files: Array[RecordFilePartition] = {
    val pathPruned = pathKeep match {
      case None => allFiles
      case Some(keep) => allFiles.filter(f => keep.contains(f.path))
    }
    skipKeys match {
      case None => pathPruned
      case Some(keys) =>
        val manifest = RecordManifest.readAll(dir, conf.value)
        pathPruned.filter { f =>
          val name = new Path(f.path).getName
          manifest.get(name).forall(RecordManifest.mightContain(_, keys))
        }
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => f: InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new RecordStreamReaderFactory(required, conf)

  /** Streaming read: the directory is an append-only feed (the write
    * side's queryId-keyed names never collide), an offset is the SET
    * of files already processed, and each micro-batch reads exactly
    * the new files — the same seen-files contract as Spark's file
    * stream source. Reader factory and pruned schema are shared with
    * the batch path, so stream ≡ batch by construction.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new RecordStreamMicroBatch(dir, required, conf)

  override def estimateStatistics(): Statistics = new Statistics {
    // gzipped files report size × spark.sql.sources.fileCompressionFactor
    // (the same de-bias file sources apply) so a small-on-disk but
    // large-in-memory stream doesn't bait the planner into a broadcast
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map { f =>
        if (f.path.endsWith(".gz")) (f.bytes * compressionFactor).toLong
        else f.bytes
      }.sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def description(): String =
    if (skipKeys.isEmpty && pathKeep.isEmpty) s"recordstream $dir"
    else s"recordstream $dir [pruned: ${files.length}/" +
      s"${allFiles.length} files]"
}

/** Offset = the sorted set of file names already processed,
  * serialized as a real JSON array (Jackson both directions — file
  * names are externally controlled, so hand-rolled quoting would
  * corrupt the checkpoint on a comma or quote in a name).
  */
final case class RecordFilesOffset(names: Seq[String]) extends Offset {
  override def json(): String = {
    val arr = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().createArrayNode()
    names.sorted.foreach(n => arr.add(n))
    arr.toString
  }
}

object RecordFilesOffset {
  def fromJson(json: String): RecordFilesOffset = {
    val node = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(json)
    val out = new scala.collection.mutable.ArrayBuffer[String](node.size())
    var i = 0
    while (i < node.size()) { out += node.get(i).asText(); i += 1 }
    RecordFilesOffset(out.toSeq)
  }
}

class RecordStreamMicroBatch(dir: String, required: StructType,
    conf: SerializableConfiguration) extends MicroBatchStream {

  private def listNow(): Map[String, RecordFilePartition] =
    RecordStream.listVisibleFiles(dir, conf.value)

  override def initialOffset(): Offset = RecordFilesOffset(Nil)

  override def latestOffset(): Offset =
    RecordFilesOffset(listNow().keys.toSeq.sorted)

  override def deserializeOffset(json: String): Offset =
    RecordFilesOffset.fromJson(json)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[RecordFilesOffset].names.toSet
    val target = end.asInstanceOf[RecordFilesOffset].names.toSet
    val current = listNow()
    val wanted = (target -- seen).toSeq.sorted
    // a checkpointed-but-vanished file is DATA LOSS, not an empty
    // batch — fail the query instead of silently advancing past it
    // (the file-stream-source contract absent ignoreMissingFiles)
    val missing = wanted.filterNot(current.contains)
    if (missing.nonEmpty)
      throw new java.io.IOException(
        s"recordstream: offset references missing file(s) under $dir: " +
          missing.mkString(", "))
    wanted.map(n => current(n): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RecordStreamReaderFactory(required, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class RecordStreamReaderFactory(required: StructType,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RecordStreamReader(p.asInstanceOf[RecordFilePartition], required,
      conf)
}

class RecordStreamReader(part: RecordFilePartition, required: StructType,
    conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  // resolve the pruned schema to field codes ONCE — get() runs per
  // record and must not string-match
  private val PathField = 0
  private val OffsetField = 1
  private val ValueField = 2
  private val fieldCodes: Array[Int] = required.fieldNames.map {
    case "path" => PathField
    case "offset" => OffsetField
    case "value" => ValueField
  }

  private val hPath = new Path(part.path)
  private val in = RecordStream.openRead(
    hPath.getFileSystem(conf.value).open(hPath),
    part.path.endsWith(".gz"))
  private val pathUtf8 =
    if (fieldCodes.contains(PathField)) UTF8String.fromString(part.path)
    else null

  private var offset = -1L
  private var current: Array[Byte] = _

  override def next(): Boolean =
    RecordStream.readRecord(in, s"${part.path} record ${offset + 1}") match {
      case Some(p) => current = p; offset += 1; true
      case None => false
    }

  override def get(): InternalRow = {
    val values = new Array[Any](fieldCodes.length)
    var i = 0
    while (i < fieldCodes.length) {
      values(i) = fieldCodes(i) match {
        case PathField => pathUtf8
        case OffsetField => offset
        case ValueField => current
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
  }

  override def close(): Unit = in.close()
}

class RecordStreamWriteBuilder(dir: String, gzip: Boolean,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val s = info.schema()
    require(s.length == 1 && s.head.dataType == BinaryType,
      s"recordstream writes a single binary column (got ${s.simpleString}); " +
        "serialize rows first, e.g. select(to_json(struct(*)).cast('binary'))")
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf())
    new RecordStreamWrite(dir, gzip, doTruncate, info.queryId(), conf)
  }
}

final case class RecordFileCommit(tempPath: String, finalName: String,
    nRecords: Long, bloom: Array[Byte])
  extends WriterCommitMessage

class RecordStreamWrite(dir: String, gzip: Boolean, truncate: Boolean,
    queryId: String, conf: SerializableConfiguration)
    extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new RecordStreamWriterFactory(dir, gzip, queryId, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(conf.value)
    if (truncate && fs.exists(base)) {
      fs.listStatus(base).foreach { s =>
        if (s.isFile && !s.getPath.getName.startsWith("."))
          fs.delete(s.getPath, false)
      }
    }
    fs.mkdirs(base)
    messages.foreach { case RecordFileCommit(temp, name, _, _) =>
      val src = new Path(temp)
      // a silent rename failure would lose a committed partition —
      // fail the job instead
      if (!fs.exists(src) || !fs.rename(src, new Path(base, name)))
        throw new java.io.IOException(
          s"recordstream commit: could not move $temp to $name")
    }
    // the data-skipping sidecar: per-file record counts + payload-key
    // blooms, written AFTER the renames so a manifest never references
    // a file that failed to land
    RecordManifest.write(fs, dir, queryId, messages.toSeq.map {
      case RecordFileCommit(_, name, n, bloom) =>
        name -> RecordManifest.FileEntry(n, bloom)
    })
    // clean the staging dir if empty
    val staging = new Path(base, ".staging")
    if (fs.exists(staging) && fs.listStatus(staging).isEmpty)
      fs.delete(staging, false)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(conf.value)
    messages.filter(_ != null).foreach {
      case RecordFileCommit(temp, _, _, _) =>
        val p = new Path(temp)
        if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

class RecordStreamWriterFactory(dir: String, gzip: Boolean, queryId: String,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new RecordStreamWriter(dir, gzip, queryId, partitionId, taskId, conf)
}

class RecordStreamWriter(dir: String, gzip: Boolean, queryId: String,
    partitionId: Int, taskId: Long, conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private val ext = if (gzip) ".records.gz" else ".records"
  // the write's queryId keys the names so two appends to the same
  // directory never collide on rename
  private val finalName = f"part-$partitionId%05d-$queryId$ext"
  private val tempPath =
    new Path(new Path(dir, ".staging"), f"$finalName-attempt-$taskId")
  private val fs = tempPath.getFileSystem(conf.value)
  private val out = RecordStream.openWrite(fs.create(tempPath, true), gzip)
  // the file's data-skipping state, built as records stream out: one
  // payload-key bloom + record count per file (16 KiB of bitset)
  private val bloomBits =
    new Array[Long]((RecordManifest.NumBits + 63) / 64)
  private var nRecords = 0L

  override def write(row: InternalRow): Unit = {
    val payload = row.getBinary(0)
    RecordStream.writeRecord(out, payload)
    graft.functions.BloomKernel.set(bloomBits, RecordManifest.NumBits,
      RecordManifest.NumHashes, RecordStream.payloadKey(payload))
    nRecords += 1L
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    // empty partitions still commit their (empty) file — a reread of
    // the directory must not depend on which partitions had rows
    RecordFileCommit(tempPath.toString, finalName, nRecords,
      graft.functions.BloomKernel.serialize(bloomBits,
        RecordManifest.NumBits, RecordManifest.NumHashes))
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    if (fs.exists(tempPath)) fs.delete(tempPath, false)
  }

  override def close(): Unit = ()
}

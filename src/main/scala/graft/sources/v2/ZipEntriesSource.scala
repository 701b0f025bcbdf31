package graft.sources.v2

import java.util
import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 `zip-entries` format: one row per ZIP-archive entry,
  * schema `entry_name: string, archive: string, content: binary`.
  *
  * The capability of the reference's custom input format
  * (`NYUZInputFormat.java:22-82` / `NYUZRecordReader.java:23-102`)
  * re-planned for Spark's connector API, fixing its scale bugs:
  *
  *  - **Planning is metadata-only.** Entry-granular splits come from
  *    each archive's central directory (a bounded tail read — never
  *    decompression); the reference decompressed the entire corpus on
  *    the driver just to compute split offsets
  *    (`NYUZInputFormat.java:24-52`).
  *  - **Entry-granular parallelism.** A large archive is planned as
  *    ceil(uncompressed_bytes / spark.sql.files.maxPartitionBytes)
  *    partitions, so a few-huge-archives corpus does not serialize
  *    onto a few tasks.
  *    Each task seeks directly to its entries' local headers and
  *    inflates only its slice — each compressed byte is read exactly
  *    once across the job. The reference re-decompressed the archive
  *    prefix per task — O(n²) total work (`NYUZRecordReader.java:70-76`)
  *    — and emitted its first entry twice (`NYUZInputFormat.java:54-66`).
  *  - **`preferredLocations`.** Every split reports the HDFS block
  *    hosts covering its compressed byte range, so tasks schedule
  *    data-local on a real cluster.
  *  - **Planning itself scales out.** At or above
  *    [[ZipEntriesSource.ExecutorPlanningMinArchives]] archives, central
  *    directories are parsed by a Spark job on executors and only the
  *    entry metadata is collected — a 100k-archive corpus does not
  *    serialize 100k tail reads onto the driver.
  *  - **No whole-archive buffering.** Content is materialized per
  *    *entry*; only entry size is bounded (2 GB JVM array cap).
  *  - **Column pruning.** A projection without `content` does zero
  *    data I/O in split mode — names come from the central directory.
  *
  * Archives whose central directory cannot be located (overlong
  * comment, truncation) fall back to one streamed partition via
  * [[ZipInputStream]] — correctness never depends on the fast path.
  *
  * Usage:
  *   `spark.read.format("zip-entries").load(pathOrGlob)` — also
  *   multi-path `.load(a, b)`. Beyond the paths it takes no options.
  *   A split packs at most `spark.sql.files.maxPartitionBytes`
  *   (default 128 MiB) of uncompressed entry bytes and at most
  *   [[ZipEntriesSource.SplitEntryCap]] entries. Names starting with
  *   `_` or `.` are skipped, as Hadoop's `FileInputFormat` does. A
  *   user-supplied schema must be a subset of the full schema
  *   (projection); anything else is rejected.
  */
class ZipEntriesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zip-entries"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipEntriesSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    schema.fields.foreach { f =>
      val known = ZipEntriesSource.Schema.fields.find(_.name == f.name)
      require(known.exists(_.dataType == f.dataType),
        s"zip-entries: unsupported field '${f.name}: ${f.dataType.simpleString}'; " +
          s"the schema must be a subset of ${ZipEntriesSource.Schema.simpleString}")
    }
    new ZipEntriesTable(CaseInsensitiveMap(properties.asScala.toMap), schema)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object ZipEntriesSource {
  val Schema: StructType = StructType(Seq(
    StructField("entry_name", StringType, nullable = false),
    StructField("archive", StringType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  /** Entries per split: bounds each task descriptor's serialized
    * metadata, so a corpus of millions of tiny entries does not pack
    * them all into one task. */
  val SplitEntryCap: Int = 65536

  /** Archive count at which central-directory planning moves off the
    * driver into a Spark job. */
  val ExecutorPlanningMinArchives: Int = 64

  /** Hidden and bookkeeping files (`_SUCCESS`, `.crc`, ...), skipped
    * like Hadoop's `FileInputFormat.hiddenFileFilter` skips them. */
  private[v2] def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")
}

/** Planning metadata for one archive: its central directory (None when
  * unlocatable → streamed fallback), the directory's start offset
  * (bounds the last pack's coalesced read — see
  * [[ZipCentral.Directory]]), and its HDFS block map, gathered either
  * on the driver or by the parallel-planning job. */
private[v2] case class ArchiveMeta(path: String, len: Long,
    entries: Option[Vector[ZipCentral.Entry]], cdOffset: Long,
    blocks: Vector[(Long, Long, Vector[String])])

private[v2] object ZipPlanning {
  def archiveMeta(fs: org.apache.hadoop.fs.FileSystem, st: FileStatus): ArchiveMeta = {
    val central = {
      val in = fs.open(st.getPath)
      try ZipCentral.list(in, st.getLen)
      finally in.close()
    }
    val blocks =
      try fs.getFileBlockLocations(st, 0, math.max(st.getLen, 1))
        .map(b => (b.getOffset, b.getLength, b.getHosts.toVector)).toVector
      catch { case _: Exception => Vector.empty[(Long, Long, Vector[String])] }
    ArchiveMeta(st.getPath.toString, st.getLen,
      central.map(_.entries.toVector),
      central.map(_.cdOffset).getOrElse(st.getLen), blocks)
  }

  /** Hosts of the blocks overlapping `[start, start+len)`. */
  def hosts(m: ArchiveMeta, start: Long, len: Long): Array[String] =
    m.blocks.filter { case (o, l, _) => o < start + math.max(len, 1) && o + l > start }
      .flatMap(_._3).distinct.toArray
}

class ZipEntriesTable(options: CaseInsensitiveMap[String], tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"zip-entries(${options.getOrElse("path", options.getOrElse("paths", "?"))})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ZipScanBuilder(caseInsensitiveOptions.asScala.toMap ++ options, tableSchema)
}

class ZipScanBuilder(options: Map[String, String], tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new ZipScan(options, required)
}

class ZipScan(options: Map[String, String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Uncompressed bytes per split: Spark's own file-split budget. */
  private val maxBytes: Long =
    org.apache.spark.sql.SparkSession.active.sessionState.conf.filesMaxPartitionBytes

  /** `path` plus DataFrameReader's multi-path `paths` (a JSON array). */
  private def configuredPaths: Seq[String] = {
    val multi = options.get("paths").toSeq.flatMap { json =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq
    }
    (options.get("path").toSeq ++ multi).distinct
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val paths = configuredPaths
    require(paths.nonEmpty, "zip-entries: 'path' is required")
    val hadoopConf = spark.sessionState.newHadoopConf()

    val files: Seq[FileStatus] = paths.flatMap { p =>
      val hadoopPath = new Path(p)
      val fs = hadoopPath.getFileSystem(hadoopConf)
      val statuses = Option(fs.globStatus(hadoopPath)) match {
        case Some(s) if s.nonEmpty => s.toSeq
        case _ => throw new java.io.FileNotFoundException(s"zip-entries: no files match $p")
      }
      statuses.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filterNot(_.isDirectory) else Seq(st)
      }.filterNot(st => ZipEntriesSource.hidden(st.getPath.getName))
    }.sortBy(_.getPath.toString) // deterministic plan order on BOTH
    // planning branches (glob/listStatus order is FS-dependent)

    // Per-archive metadata (central directory + block map). Below the
    // threshold the driver reads it directly (one bounded tail read per
    // archive); above it, a 100k-archive corpus would serialize ~100k
    // metadata RPCs + tail reads onto the driver, so a small Spark job
    // parses central directories ON EXECUTORS and collects only the
    // Entry metadata — the same bytes the driver would have held anyway.
    val metas: Seq[ArchiveMeta] =
      if (files.length < ZipEntriesSource.ExecutorPlanningMinArchives) {
        files.map(st => ZipPlanning.archiveMeta(st.getPath.getFileSystem(hadoopConf), st))
      } else {
        val sc = spark.sparkContext
        val conf = new SerializableConfiguration(hadoopConf)
        val pathLens = files.map(st => st.getPath.toString)
        val slices = math.max(1, math.min(pathLens.length, sc.defaultParallelism * 4))
        sc.parallelize(pathLens, slices)
          .map { p =>
            val hp = new Path(p)
            val fs = hp.getFileSystem(conf.value)
            ZipPlanning.archiveMeta(fs, fs.getFileStatus(hp))
          }
          .collect().toSeq.sortBy(_.path) // cheap insurance: keep plan
          // order identical to the driver branch's sorted listing
      }

    metas.flatMap { m =>
      m.entries match {
        case Some(entries) =>
          // greedy pack in archive order by UNCOMPRESSED size (the
          // decompress work a task performs), >= 1 entry per split,
          // at most SplitEntryCap entries.
          val splits = Vector.newBuilder[Vector[ZipCentral.Entry]]
          var cur = Vector.newBuilder[ZipCentral.Entry]
          var curBytes = 0L; var curN = 0
          entries.foreach { e =>
            if (curN > 0 && (curBytes + e.usize > maxBytes || curN >= ZipEntriesSource.SplitEntryCap)) {
              splits += cur.result(); cur = Vector.newBuilder; curBytes = 0L; curN = 0
            }
            cur += e; curBytes += e.usize; curN += 1
          }
          if (curN > 0) splits += cur.result()
          val packs = splits.result()
          packs.zipWithIndex.map { case (es, i) =>
            val start = es.head.offset
            val end = es.map(e => e.offset + e.csize).max
            // coalesced-read bound: this pack's bytes end where the
            // next pack's first LOCAL header begins (local headers
            // precede their payloads), or at the CENTRAL DIRECTORY
            // start for the last pack — every payload precedes it, and
            // bounding at the archive tail instead would over-read the
            // whole directory per archive (ADVICE r12). Exact when
            // entries are laid out in offset order — the reader
            // verifies per entry and falls back to positioned reads
            // otherwise.
            val rangeEnd =
              if (i + 1 < packs.length) math.max(packs(i + 1).head.offset, end)
              else math.min(math.max(m.cdOffset, end), m.len)
            ZipSlicePartition(m.path, es.toArray,
              ZipPlanning.hosts(m, start, end - start), rangeEnd): InputPartition
          }
        case None =>
          Seq(ZipArchivePartition(m.path,
            ZipPlanning.hosts(m, 0, m.len)): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    // content reads COALESCE: one ranged read per split (one
    // object-store RTT) instead of two positioned reads per entry; the
    // buffer is bounded by the pack budget plus slack, so per-slot
    // memory stays ~maxPartitionBytes
    new ZipReaderFactory(conf, required, coalesceCap = 2L * maxBytes + (64L << 20))
  }
}

/** Fallback: one streamed partition for a whole archive. */
case class ZipArchivePartition(path: String, hosts: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

/** Entry-granular split: a contiguous run of central-directory entries.
  * `rangeEnd` bounds the split's bytes (exclusive) so the reader can
  * fetch the whole pack in ONE ranged read. */
case class ZipSlicePartition(path: String, entries: Array[ZipCentral.Entry],
                             hosts: Array[String], rangeEnd: Long)
    extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class ZipReaderFactory(conf: SerializableConfiguration, required: StructType,
                       coalesceCap: Long)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: ZipSlicePartition =>
        new ZipSliceReader(p.path, p.entries, conf, required, p.rangeEnd, coalesceCap)
      case p: ZipArchivePartition =>
        new ZipEntryReader(p.path, conf, required)
    }
}

/** Reads its slice of entries: ONE ranged read fetches the split's
  * whole byte range (the object-store-scale path — one RTT per task
  * instead of two per entry), and entries inflate out of the buffer.
  * Positioned per-entry reads remain only as the fallback the input
  * forces: a range over the cap, or an entry outside the computed
  * range (out-of-order local headers). Inflates only what the
  * projection needs — a name-only scan does zero data I/O. */
class ZipSliceReader(path: String, entries: Array[ZipCentral.Entry],
                     conf: SerializableConfiguration, required: StructType,
                     rangeEnd: Long, coalesceCap: Long)
    extends PartitionReader[InternalRow] {

  private val hPath = new Path(path)
  private val archiveUtf8 = UTF8String.fromString(path)
  private var idx = -1
  // opened only if the projection actually reads content — a name-only
  // scan over a split does zero data I/O
  private var in: FSDataInputStream = _
  private def stream: FSDataInputStream = {
    if (in == null) in = hPath.getFileSystem(conf.value).open(hPath)
    in
  }

  /** The split's bytes, fetched once (one ranged read). None when the
    * planner couldn't bound the range or it exceeds the cap. */
  private var bufFetched = false
  private var buf: Array[Byte] = _
  private val bufBase: Long = if (entries.nonEmpty) entries.head.offset else 0L
  private def rangeBuf(): Array[Byte] = {
    if (!bufFetched) {
      bufFetched = true
      val len = rangeEnd - bufBase
      // the Int.MaxValue clamp guards the JVM array bound: a
      // maxPartitionBytes near 1 GB pushes coalesceCap (2x + 64 MB)
      // past Int.MaxValue, where len.toInt would wrap (ADVICE r12);
      // oversized ranges fall back to positioned per-entry reads
      if (len > 0 && len <= math.min(coalesceCap, Int.MaxValue.toLong)) {
        val b = new Array[Byte](len.toInt)
        stream.readFully(bufBase, b)
        buf = b
      }
    }
    buf
  }

  private def content(e: ZipCentral.Entry): Array[Byte] = {
    val fromBuf = Option(rangeBuf())
      .flatMap(b => ZipCentral.readEntryFrom(b, bufBase, e))
    fromBuf.getOrElse {
      // positioned-read fallback: header + payload = two ranged reads
      ZipCentral.readEntry(stream, e)
    }
  }

  override def next(): Boolean = { idx += 1; idx < entries.length }

  override def get(): InternalRow = {
    val e = entries(idx)
    val values = required.fieldNames.map {
      case "entry_name" => UTF8String.fromString(e.name)
      case "archive"    => archiveUtf8
      case "content"    => content(e)
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = if (in != null) in.close()
}

/** Streams one archive's entries forward; materializes content only if
  * the projection asks for it. */
class ZipEntryReader(path: String, conf: SerializableConfiguration, required: StructType)
    extends PartitionReader[InternalRow] {

  private val needContent = required.fieldNames.contains("content")
  private val hPath = new Path(path)
  private val in = hPath.getFileSystem(conf.value).open(hPath)
  private val zis = new ZipInputStream(in, java.nio.charset.StandardCharsets.UTF_8)
  private val archiveUtf8 = UTF8String.fromString(path)
  private var row: InternalRow = _

  override def next(): Boolean = {
    var e = zis.getNextEntry
    while (e != null && e.isDirectory) { zis.closeEntry(); e = zis.getNextEntry }
    if (e == null) return false
    val values = required.fieldNames.map {
      case "entry_name" => UTF8String.fromString(e.getName)
      case "archive"    => archiveUtf8
      case "content"    => zis.readAllBytes()
    }
    if (!needContent) zis.closeEntry() // skip payload without materializing
    row = InternalRow.fromSeq(values.toIndexedSeq)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = { zis.close(); in.close() }
}

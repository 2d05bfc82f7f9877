package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import graft.functions.PdfCodec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 provider for the PDF page source —
  * `spark.read.format("graft-pdf").load(dir)` — the connector tier of
  * [[graft.sources.PdfSource.pages]] (which remains the typed-API form).
  * What V2 adds over binaryFile+flatMap:
  *
  *  - **Column pruning reaches the codec**: a projection without
  *    `page_text` plans a scan whose readers never run content-stream or
  *    font decoding ([[PdfCodec.extractPages]] `withText = false`) — the
  *    dominant per-page cost — so `SELECT file_name, count(*)` style
  *    queries touch only the object/page-tree scan. The pruned schema is
  *    visible in the physical plan's BatchScan output (spec-pinned).
  *  - **Explicit partition planning**: one InputPartition per file,
  *    listed driver-side (metadata-sized), decoded executor-side — the
  *    same no-driver-bytes contract as the binaryFile path.
  *
  * Registered as `graft-pdf` via DataSourceRegister (META-INF/services).
  * Reference behavior: the reference's fitz directory loop
  * (`enem_pdf_extractor.py:236`). */
class PdfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-pdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PdfDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // a user-supplied .schema(...) that differs from the fixed page schema
    // would silently mislabel reader output — reject it loudly instead
    require(schema == PdfDataSource.schema,
      s"graft-pdf has a fixed schema ${PdfDataSource.schema.simpleString}; " +
        s"got ${schema.simpleString}. Drop the .schema(...) call.")
    new PdfTable(Option(properties.get("path")))
  }
}

object PdfDataSource {
  val schema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("page_idx", IntegerType, nullable = false),
    StructField("page_text", StringType, nullable = false),
    StructField("has_images", BooleanType, nullable = false),
    StructField("image_names", ArrayType(StringType, containsNull = false),
      nullable = false)))
}

private[v2] class PdfTable(tablePath: Option[String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-pdf(${tablePath.getOrElse("?")})"
  override def schema(): StructType = PdfDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PdfScanBuilder(tablePath.orElse(Option(options.get("path")))
      .getOrElse(throw new IllegalArgumentException(
        "graft-pdf: no path given — use .load(dir)")),
      options.asCaseSensitiveMap().asScala.toMap)
}

private[v2] class PdfScanBuilder(path: String, opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringStartsWith}

  private var required: StructType = PdfDataSource.schema
  private var fileFilters: Seq[Filter] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `file_name` predicates prune the DRIVER-SIDE LISTING — a filtered
    * scan never even stats the excluded files, the file-level analogue
    * of parquet partition pruning. Everything else stays a post-scan
    * filter (returned back to Spark untouched). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushable, rest) = filters.partition {
      case EqualTo("file_name", _: String) => true
      case In("file_name", vs) => vs.forall(_.isInstanceOf[String])
      case StringStartsWith("file_name", _) => true
      case _ => false
    }
    fileFilters = pushable.toSeq
    rest // Spark re-applies these after the scan
  }

  override def pushedFilters(): Array[Filter] = fileFilters.toArray

  override def build(): Scan = PdfScan(path, required, fileFilters, opts)
}

private[v2] case class PdfScan(path: String, required: StructType,
    fileFilters: Seq[org.apache.spark.sql.sources.Filter],
    opts: Map[String, String])
    extends Scan with Batch {
  import org.apache.spark.sql.sources.{EqualTo, In, StringStartsWith}

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-pdf $path cols=[${required.fieldNames.mkString(",")}]" +
      (if (fileFilters.nonEmpty) s" pushed=[${fileFilters.mkString(",")}]"
       else "")

  private def nameMatches(name: String): Boolean = fileFilters.forall {
    case EqualTo("file_name", v: String) => name == v
    case In("file_name", vs) => vs.exists(_ == name)
    case StringStartsWith("file_name", p) => name.startsWith(p)
    case _ => true
  }

  /** Session-level Hadoop conf with the per-read options folded in — the
    * same resolution file sources use (`newHadoopConfWithOptions`), so
    * FS credentials set via `spark.read.option(...)` or session confs
    * reach the listing and the executors (the raw
    * `SparkContext.hadoopConfiguration` would silently drop both). */
  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState
      .newHadoopConfWithOptions(opts)

  override def planInputPartitions(): Array[InputPartition] = {
    graft.sources.PdfSource.listPdfs(hadoopConf(), path)
      .filter(f => nameMatches(f.getName))
      .map(f => PdfFilePartition(f.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PdfReaderFactory(required.fieldNames,
      new org.apache.spark.util.SerializableConfiguration(hadoopConf()))
}

private[v2] case class PdfFilePartition(file: String) extends InputPartition

private[v2] case class PdfReaderFactory(fields: Array[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PdfPartitionReader(p.asInstanceOf[PdfFilePartition].file, fields,
      conf)
}

/** Executor-side reader: loads ONE file's bytes, decodes only what the
  * pruned projection needs, streams InternalRows. */
private[v2] class PdfPartitionReader(file: String, fields: Array[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val needText = fields.contains("page_text")
  private lazy val rows: Iterator[InternalRow] = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(conf.value)
    val len = fs.getFileStatus(p).getLen
    // a >= 2 GiB file would overflow toInt (negative allocation or silent
    // truncation) — fail with a named message instead
    require(len <= Int.MaxValue,
      s"graft-pdf: $file is $len bytes, over the 2 GiB single-buffer limit")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val name = p.getName
    PdfCodec.extractPages(bytes, withText = needText).iterator.map { pg =>
      InternalRow.fromSeq(fields.toSeq.map {
        case "file_name" => UTF8String.fromString(name)
        case "page_idx" => pg.pageIdx
        case "page_text" => UTF8String.fromString(pg.text)
        case "has_images" => pg.hasImages
        case "image_names" => new GenericArrayData(
          pg.imageNames.map(UTF8String.fromString).toArray[Any])
        case other => throw new IllegalArgumentException(
          s"graft-pdf: unknown column $other")
      })
    }
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

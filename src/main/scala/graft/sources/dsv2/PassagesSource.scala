package graft.sources.dsv2

import java.io.File
import java.time.{LocalDateTime, ZoneId}
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.util
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for Transilien-style passage XML documents —
  * the reference's ingest feed [P extract_api.py] as a first-class
  * Spark source, and graft's only passage XML parser:
  *
  * {{{
  * spark.read.format("graft.sources.dsv2.PassagesSource")
  *   .load("/path/to/xml-dir")   // one <passages> document per file
  * }}}
  *
  * TableProvider → Table(BATCH_READ) → Scan → Batch → InputPartitions
  * → PartitionReader. The driver packs the documents (names starting
  * with `_` or `.` skipped, as the text reader skips them) by their
  * real bytes into Spark's file-split budget, so a polling cycle of
  * small documents is one task while a large directory still spreads
  * over the cores. Executors parse with StAX, one XMLInputFactory per
  * partition reader, reading the feed's `dd/MM/yyyy HH:mm` times in the
  * session time zone, as `to_timestamp` does. A missing path fails
  * planning and a malformed document fails the read, each naming its
  * path.
  */
class PassagesSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PassagesSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PassagesTable(properties.get("path"))
}

object PassagesSource {
  val schema: StructType = StructType.fromDDL("station_id STRING, num STRING, miss STRING, " +
    "term STRING, expected_ts TIMESTAMP, mode STRING, etat STRING")

  /** Next-fit packing of `sizes`, in order, into groups of at most
    * `budget` bytes; a file larger than the budget is a group alone. */
  def pack(sizes: Seq[Long], budget: Long): Seq[Seq[Int]] =
    sizes.indices.foldLeft(List.empty[(Long, List[Int])]) {
      case ((bytes, g) :: rest, i) if bytes + sizes(i) <= budget => (bytes + sizes(i), i :: g) :: rest
      case (groups, i) => (sizes(i), List(i)) :: groups
    }.reverse.map(_._2.reverse)
}

class PassagesTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"passages($path)"
  override def schema(): StructType = PassagesSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new PassagesScan(path)
}

class PassagesScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType = PassagesSource.schema
  override def toBatch: Batch = this

  /** One file or a directory's documents, by name, packed into Spark's
    * file-split budget:
    * min(maxPartitionBytes, max(openCostInBytes, totalBytes / parallelism)). */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SQLConf.get
    val dir = new File(path)
    val files =
      if (dir.isFile) Array(dir)
      else if (dir.isDirectory) dir.listFiles().filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith(".")).sortBy(_.getName)
      else throw new java.io.FileNotFoundException(s"passage path does not exist: $path")
    val sizes = files.toSeq.map(_.length)
    val parallelism = conf.filesMinPartitionNum
      .getOrElse(SparkSession.active.sparkContext.defaultParallelism)
    val budget = math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, sizes.sum / parallelism))
    PassagesSource.pack(sizes, budget).map(g => PassagesPartition(
      g.map(files(_).getAbsolutePath).toArray, conf.sessionLocalTimeZone): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new PassagesReaderFactory
}

/** Some documents, and the session time zone their times are read in. */
case class PassagesPartition(files: Array[String], zone: String) extends InputPartition

class PassagesReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PassagesReader(p.asInstanceOf[PassagesPartition])
}

/** Streams a partition's documents train by train: one row per
  * `<train>` child of the root, which carries the station as `gare`. */
class PassagesReader(part: PassagesPartition) extends PartitionReader[InternalRow] {
  private val factory = XMLInputFactory.newInstance()
  factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
  factory.setProperty(XMLInputFactory.IS_COALESCING, true)
  private val zone = ZoneId.of(part.zone)
  private val dates =
    DateTimeFormatter.ofPattern("dd/MM/uuuu HH:mm").withResolverStyle(ResolverStyle.STRICT)
  private val files = part.files.iterator
  private var file: String = _
  private var r: XMLStreamReader = _ // open document, null between documents
  private var gare: UTF8String = _
  private var cur: InternalRow = _

  override def next(): Boolean = {
    cur = null
    while (cur == null && (r != null || files.hasNext)) {
      if (r == null) open(files.next())
      cur = guard(nextTrain())
      if (cur == null) close()
    }
    cur != null
  }

  override def get(): InternalRow = cur

  override def close(): Unit = { if (r != null) r.close(); r = null }

  private def open(f: String): Unit = {
    file = f
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    guard {
      r = factory.createXMLStreamReader(new java.io.ByteArrayInputStream(bytes))
      r.nextTag()
      gare = UTF8String.fromString(r.getAttributeValue(null, "gare"))
    }
  }

  private def guard[T](body: => T): T = try body catch {
    case e: Exception => close()
      throw new IllegalArgumentException(s"malformed passage document $file: ${e.getMessage}", e)
  }

  /** The next train's row, or null at the end of the root element. */
  private def nextTrain(): InternalRow = {
    var row: InternalRow = null
    var inRoot = true
    while (row == null && inRoot) r.next() match {
      case XMLStreamConstants.START_ELEMENT => if (r.getLocalName == "train") row = train() else skip()
      case XMLStreamConstants.END_ELEMENT => inRoot = false
      case _ =>
    }
    row
  }

  private def train(): InternalRow = {
    val row = new Array[Any](7)
    row(0) = gare
    def text() = UTF8String.fromString(r.getElementText.trim)
    while (r.nextTag() == XMLStreamConstants.START_ELEMENT) r.getLocalName match {
      case "num" => row(1) = text()
      case "miss" => row(2) = text()
      case "term" => row(3) = text()
      case "date" =>
        row(5) = UTF8String.fromString(r.getAttributeValue(null, "mode"))
        val t = LocalDateTime.parse(r.getElementText.trim, dates).atZone(zone).toInstant
        row(4) = t.getEpochSecond * 1000000L + t.getNano / 1000L
      case "etat" => row(6) = text()
      case _ => skip()
    }
    new GenericInternalRow(row)
  }

  /** Skip the element whose start the reader is on. */
  private def skip(): Unit = {
    var depth = 1
    while (depth > 0) r.next() match {
      case XMLStreamConstants.START_ELEMENT => depth += 1
      case XMLStreamConstants.END_ELEMENT => depth -= 1
      case _ =>
    }
  }
}

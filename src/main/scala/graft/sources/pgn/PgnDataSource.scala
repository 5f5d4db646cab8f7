package graft.sources.pgn

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Split-aware distributed PGN file source (DataSource V2).
  *
  * `spark.read.format("pgn").load(path)` yields one row per game:
  * {{{
  *   tags     map<string,string>   -- the [Key "value"] tag pairs
  *   movetext string               -- movetext lines joined by spaces
  * }}}
  *
  * Scale design (SURVEY §4 / the reference's single-threaded stream
  * parse in ingester.py:139-235 re-expressed as a distributed scan):
  *  - `planInputPartitions` = Hadoop-style byte-range splits (default
  *    128 MB, `pgn.splitSize` to override). Uncompressed PGN is
  *    splittable: each reader seeks to its range, discards the
  *    partial record, re-syncs at the next `[Event ` line, and keeps
  *    reading past its end offset until the following game boundary —
  *    the same owns-the-record-that-starts-here convention as Hadoop
  *    text splits, so a 100 TB dump fans out linearly with no
  *    driver-side parsing.
  *  - Compressed inputs (`.zst`, `.gz`, ... — lichess publishes
  *    `.pgn.zst`) are detected via the Hadoop codec factory and read
  *    as one partition per file end-to-end (general-purpose
  *    compressed streams are not seekable). At scale you either
  *    pre-split the dump into many compressed files or decompress
  *    into splittable storage once.
  *  - Game boundary = a `[Event ` line that follows a non-tag line
  *    (PGN games are tag-section + movetext-section); detection is
  *    purely local to the stream, so splits never need to communicate.
  */
class PgnDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgn"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgnTable.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgnTable(PgnTable.paths(properties))
}

object PgnTable {
  val Schema: StructType = StructType(Seq(
    StructField("tags", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("movetext", StringType)))

  /** Paths arrive either as `path` or as a JSON-array `paths`. */
  def paths(properties: util.Map[String, String]): Seq[String] = {
    val single = Option(properties.get("path")).toSeq
    val multi = Option(properties.get("paths")).toSeq.flatMap { json =>
      // minimal JSON string-array parse: ["a","b"]
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(json).map(_.group(1)).toSeq
    }
    (single ++ multi).distinct
  }
}

/** Equal over its paths, as Spark's built-in file tables are: two
  * identical `load(p)` reads then match, so a `.cache()` on one is
  * used by the other and identical exchanges over one uncached read
  * are reused. As with those tables, a cached read does not see files
  * written under its paths later: unpersist it first.
  */
case class PgnTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"pgn(${paths.mkString(",")})"
  override def schema(): StructType = PgnTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PgnScanBuilder(paths, options.asScala.toMap)
}

/** File listing + split planning shared by the batch scan and the
  * micro-batch stream.
  */
object PgnPlanner {

  /** Recursive listing: lichess-style `year/month/` trees of
    * `.pgn.zst` files plan one partition per compressed file. Hidden
    * entries (`_` / `.` prefixes, Spark/Hadoop marker convention) are
    * pruned at EVERY level, including whole hidden subtrees.
    */
  def listFiles(paths: Seq[String], conf: Configuration): Seq[FileStatus] = {
    def list(fs: org.apache.hadoop.fs.FileSystem, st: FileStatus): Seq[FileStatus] = {
      def hidden(s: FileStatus): Boolean = {
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filterNot(hidden).flatMap(list(fs, _))
      else Seq(st)
    }
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      // the root is listed even if its own name looks hidden — an
      // explicitly-passed path is never pruned
      list(fs, fs.getFileStatus(path))
    }
  }

  def partitionsFor(files: Seq[FileStatus], splitSize: Long,
      conf: Configuration): Array[InputPartition] = {
    val codecs = new CompressionCodecFactory(conf)
    files.flatMap { f =>
      val compressed = PgnPartitionReader.isZstd(f.getPath) ||
        codecs.getCodec(f.getPath) != null
      if (compressed || f.getLen <= splitSize) {
        Seq(PgnInputPartition(f.getPath.toString, 0L, f.getLen, wholeFile = compressed))
      } else {
        (0L until f.getLen by splitSize).map { start =>
          PgnInputPartition(f.getPath.toString, start,
            math.min(splitSize, f.getLen - start), wholeFile = false)
        }
      }
    }.toArray
  }

  /** Serializable snapshot of the Hadoop conf for executors. */
  def confSnapshot(): Map[String, String] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }
}

/** Equal over (paths, options), so `BatchScanExec`s of two identical
  * reads compare equal (see [[PgnTable]]).
  */
case class PgnScanBuilder(paths: Seq[String], options: Map[String, String])
    extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = PgnTable.Schema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : graft.sources.pgn.streaming.PgnMicroBatchStream =
    new graft.sources.pgn.streaming.PgnMicroBatchStream(paths, splitSize)

  private def splitSize: Long =
    options.get("pgn.splitsize").map(_.toLong).getOrElse(128L * 1024 * 1024)

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    PgnPlanner.partitionsFor(PgnPlanner.listFiles(paths, conf), splitSize, conf)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PgnReaderFactory(PgnPlanner.confSnapshot())
}

case class PgnInputPartition(path: String, start: Long, length: Long, wholeFile: Boolean)
    extends InputPartition

class PgnReaderFactory(confMap: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    new PgnPartitionReader(partition.asInstanceOf[PgnInputPartition], conf)
  }
}

object PgnPartitionReader {
  /** The reference's primary input is `.pgn.zst` (ingest_lichess.py:23,
    * ingester.py:116-124). Hadoop's ZStandardCodec requires the native
    * libhadoop zstd binding, which many deploy images (including this
    * one) lack — so `.zst`/`.zstd` route through the zstd-jni
    * `ZstdInputStream` Spark already bundles for shuffle compression.
    */
  def isZstd(p: Path): Boolean = {
    val n = p.getName.toLowerCase(java.util.Locale.ROOT)
    n.endsWith(".zst") || n.endsWith(".zstd")
  }
}

/** Reads the games whose `[Event ` line starts inside [start, start+length). */
class PgnPartitionReader(part: PgnInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val path = new Path(part.path)
  private val fs = path.getFileSystem(conf)
  private val zstd = PgnPartitionReader.isZstd(path)
  private val codec =
    if (zstd) null else new CompressionCodecFactory(conf).getCodec(path)
  private val streamed = zstd || codec != null // no seeking, one partition
  private val rawIn = fs.open(path)
  // Hadoop text-split convention: a mid-file reader seeks to start-1
  // and discards one line, so a record starting EXACTLY at `start`
  // still belongs to exactly one split (this one), while a record
  // straddling the boundary belongs to the previous split, which reads
  // through its end offset until the next boundary.
  private val in: java.io.InputStream =
    if (zstd) new com.github.luben.zstd.ZstdInputStream(rawIn)
    else if (codec != null) codec.createInputStream(rawIn)
    else { if (part.start > 0) rawIn.seek(part.start - 1); rawIn }

  private val end: Long = if (part.wholeFile) Long.MaxValue else part.start + part.length

  // Byte-position-tracking buffered line reader (PGN is line-oriented).
  private val buf = new Array[Byte](64 * 1024)
  private var bufLen = 0
  private var bufPos = 0
  private var filePos: Long =
    if (streamed) 0L else math.max(part.start - 1, 0L)
  private val lineBytes = new java.io.ByteArrayOutputStream(256)

  /** Reads one line; returns (line, byteOffsetOfLineStart) or null at EOF. */
  private def readLine(): (String, Long) = {
    lineBytes.reset()
    val lineStart = filePos
    var done = false
    var sawAny = false
    while (!done) {
      if (bufPos >= bufLen) {
        // InputStream.read may legally return 0 (seen with some codec
        // wrappers); only < 0 is EOF. Retry 0-byte reads with a sanity
        // bound instead of spinning forever.
        var n = in.read(buf)
        var zeroReads = 0
        while (n == 0) {
          zeroReads += 1
          if (zeroReads > 4096)
            throw new java.io.IOException(
              s"stream for ${part.path} returned 0 bytes $zeroReads times")
          n = in.read(buf)
        }
        bufLen = n
        bufPos = 0
        if (bufLen < 0) {
          done = true
          if (!sawAny) return null
        }
      }
      if (!done) {
        var i = bufPos
        while (i < bufLen && buf(i) != '\n') i += 1
        lineBytes.write(buf, bufPos, i - bufPos)
        sawAny = true
        filePos += i - bufPos
        if (i < bufLen) { // consumed the newline
          filePos += 1
          bufPos = i + 1
          done = true
        } else bufPos = i
      }
    }
    var s = lineBytes.toString("UTF-8")
    if (s.nonEmpty && s.last == '\r') s = s.dropRight(1)
    (s, lineStart)
  }

  private val TagLine = """\[(\S+)\s+"(.*)"\]\s*""".r

  private var current: InternalRow = _
  private var exhausted = false
  private var pending: (String, Long) = _ // lookahead line

  // On a mid-file split: discard the (possibly partial) line containing
  // byte start-1; the next line read starts at or after `start`.
  if (part.start > 0 && !streamed) {
    readLine()
  }

  private def nextLine(): (String, Long) = {
    if (pending != null) { val l = pending; pending = null; l }
    else readLine()
  }

  override def next(): Boolean = {
    if (exhausted) return false
    // find the next game start: a line beginning with "[Event " whose
    // offset is inside this split
    var gameStart: (String, Long) = null
    var line = nextLine()
    while (line != null && gameStart == null) {
      if (line._1.startsWith("[Event ") ) {
        if (line._2 >= end) { exhausted = true; return false }
        gameStart = line
      } else line = nextLine()
    }
    if (gameStart == null) { exhausted = true; return false }

    val tagKeys = mutable.ArrayBuffer[UTF8String]()
    val tagVals = mutable.ArrayBuffer[UTF8String]()
    val moves = new StringBuilder
    def addTag(l: String): Unit = l match {
      case TagLine(k, v) =>
        tagKeys += UTF8String.fromString(k)
        tagVals += UTF8String.fromString(v)
      case _ => // malformed tag line: skip
    }
    addTag(gameStart._1)
    var inTags = true
    var doneGame = false
    while (!doneGame) {
      val l = nextLine()
      if (l == null) doneGame = true
      else if (l._1.startsWith("[Event ") && !inTags) {
        pending = l // next game's first line
        doneGame = true
      } else if (l._1.startsWith("[") && inTags) addTag(l._1)
      else if (l._1.trim.nonEmpty) {
        inTags = false
        if (moves.nonEmpty) moves.append(' ')
        moves.append(l._1.trim)
      } else if (!inTags) doneGame = true // blank line after movetext
      else inTags = false // blank line between tags and movetext
    }
    current = InternalRow(
      ArrayBasedMapData(tagKeys.toArray, tagVals.toArray),
      UTF8String.fromString(moves.toString))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

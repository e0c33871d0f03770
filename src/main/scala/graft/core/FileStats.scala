package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file column min/max/null-count manifest for a snapshot-store version
  * directory — the data-skipping layer Delta/Iceberg keep in their commit
  * logs (Delta `stats` in AddFile, Iceberg manifest `lower_bounds` /
  * `upper_bounds`), re-expressed over the store's versioned parquet dirs
  * (reference M8 epoch log, schema/00_baseline.sql:2198-2240 — the reference
  * leans on Postgres btree indexes for this; a lake engine gets the same
  * point-lookup economics from manifest pruning).
  *
  * Why it matters at 100 TB: parquet row-group stats already skip WITHIN a
  * file, but only after the scan has listed the file, opened it, and read
  * its footer — at warehouse scale that is millions of opens for a query
  * that touches one append. The manifest is read ONCE per chain directory
  * (a few KB of JSON, memoized per immutable version), and whole files drop
  * out of the scan before any footer I/O or task launch happens.
  *
  * The stats are computed from the parquet FOOTERS of the just-written
  * files (metadata-only reads — no second pass over the data) at commit
  * time, and are strictly optional: a version without `_stats.json` (crash
  * between data and stats, legacy version, unsupported column types) simply
  * reads unpruned.
  *
  * Correctness stance is the usual one for zone maps: a file is dropped
  * ONLY when its stats PROVE no row can satisfy the predicate, and every
  * conversion that could lie (INT96, decimals, NaN floats, non-ASCII string
  * bounds where parquet's unsigned-byte order and Java's UTF-16 order
  * diverge, nanos truncation) conservatively withholds the bound instead.
  */
object FileStats {

  /** A min/max bound in one of four comparable domains. Timestamps are
    * carried as epoch MICROS longs and dates as epoch-day longs — the same
    * internal values Catalyst literals use, so pruning compares like with
    * like. */
  sealed trait StatVal
  final case class LongVal(v: Long) extends StatVal
  final case class DoubleVal(v: Double) extends StatVal
  final case class StringVal(v: String) extends StatVal
  final case class BoolVal(v: Boolean) extends StatVal

  /** Bounds for one top-level column in one file. `min`/`max` absent means
    * "unknown" (never "empty"); `nullCount` absent means unknown. */
  final case class ColStats(min: Option[StatVal], max: Option[StatVal],
      nullCount: Option[Long])

  /** -0.0 and +0.0 are EQUAL under SQL comparison semantics (catalyst
    * compares doubles with primitive ==/<, where -0.0 == 0.0, and hash
    * partitioning normalizes the zero) but DISTINCT under
    * java.lang.Double.compare — a footer bound of -0.0 against a pruning
    * literal of +0.0 would "prove" a false non-overlap and silently drop
    * matching rows. Every StatVal construction canonicalizes the zero so
    * bound comparisons agree with SQL equality. (NaN bounds are withheld
    * entirely, as before.) */
  def canonDouble(d: Double): Double = if (d == 0.0d) 0.0d else d

  /** One data file's manifest entry. `leaves` is the set of top-level
    * column names physically present in the file (lower-cased) — a chain
    * file written before a column was appended LACKS it, reads it as NULL,
    * and can be pruned by any null-rejecting predicate on it. `bytes` and
    * `mtime` let the scan build its file listing from the manifest alone
    * (Delta AddFile's size/modificationTime) — zero filesystem metadata
    * calls on the read path. */
  final case class FileStat(rows: Long, bytes: Long, mtime: Long,
      cols: Map[String, ColStats], leaves: Set[String])

  val StatsFileName = "_stats.json"

  // ---------------------------------------------------------------- footer → stats

  /** Read the footer of one parquet file and fold its row groups into a
    * FileStat. Unsupported or unreliable columns keep presence but lose
    * bounds. */
  def ofParquetFile(conf: Configuration, file: org.apache.hadoop.fs.Path,
      bytes: Long, mtime: Long): FileStat = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // Top-level leaves only: nested paths (a.b) describe struct internals
      // the pruner does not reason about.
      val schema = footer.getFileMetaData.getSchema
      val leaves = schema.getFields.asScala.map(_.getName.toLowerCase).toSet

      // Accumulate per column across row groups; a single bad chunk taints
      // the column's bounds (not its presence).
      final case class Acc(min: Option[StatVal], max: Option[StatVal],
          nulls: Option[Long], tainted: Boolean)
      var acc = Map.empty[String, Acc]
      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val pathParts = chunk.getPath.toArray
        if (pathParts.length == 1) {
          val name = pathParts(0).toLowerCase
          val prev = acc.getOrElse(name, Acc(None, None, Some(0L), tainted = false))
          val next =
            if (prev.tainted) prev
            else statsOfChunk(chunk) match {
              case None => prev.copy(min = None, max = None, nulls = None, tainted = true)
              case Some((mn, mx, nu)) =>
                Acc(mergeBound(prev.min, mn, isMin = true),
                  mergeBound(prev.max, mx, isMin = false),
                  for (a <- prev.nulls; b <- nu) yield a + b,
                  tainted = false)
            }
          acc = acc.updated(name, next)
        }
      }
      FileStat(rows, bytes, mtime,
        acc.map { case (n, a) => n -> ColStats(a.min, a.max, a.nulls) },
        leaves)
    } finally reader.close()
  }

  /** None = taint (no trustworthy bounds); Some((min, max, nulls)) where an
    * all-null chunk yields (None, None, Some(n)). */
  private def statsOfChunk(chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[(Option[StatVal], Option[StatVal], Option[Long])] = {
    val st = chunk.getStatistics
    if (st == null || st.isEmpty) return None
    val nulls = if (st.isNumNullsSet) Some(st.getNumNulls) else None
    if (!st.hasNonNullValue) {
      // No non-null values in this chunk: bounds vacuous, nulls meaningful.
      return if (nulls.isDefined) Some((None, None, nulls)) else None
    }
    val pt = chunk.getPrimitiveType
    for {
      mn <- convert(pt, st.genericGetMin)
      mx <- convert(pt, st.genericGetMax)
    } yield (Some(mn), Some(mx), nulls)
  }

  /** Map a parquet-native min/max value into a StatVal under the column's
    * physical + logical type; None = the combination is not trustworthy. */
  private def convert(pt: PrimitiveType, v: Any): Option[StatVal] = {
    import LogicalTypeAnnotation._
    val logical = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName, logical) match {
      case (_, _: DecimalLogicalTypeAnnotation) => None
      case (PrimitiveTypeName.BOOLEAN, _) =>
        Some(BoolVal(v.asInstanceOf[java.lang.Boolean]))
      case (PrimitiveTypeName.INT32, null) =>
        Some(LongVal(v.asInstanceOf[java.lang.Integer].longValue))
      case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation) if i.isSigned =>
        Some(LongVal(v.asInstanceOf[java.lang.Integer].longValue))
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) =>
        Some(LongVal(v.asInstanceOf[java.lang.Integer].longValue))
      case (PrimitiveTypeName.INT64, null) =>
        Some(LongVal(v.asInstanceOf[java.lang.Long]))
      case (PrimitiveTypeName.INT64, i: IntLogicalTypeAnnotation) if i.isSigned =>
        Some(LongVal(v.asInstanceOf[java.lang.Long]))
      case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
        // Normalize to MICROS — Catalyst's internal timestamp unit. Nanos
        // floor-divide on BOTH bounds, matching Spark's own truncation of
        // nanos on read, so bound vs literal comparisons stay exact.
        val raw = v.asInstanceOf[java.lang.Long].longValue
        t.getUnit match {
          case TimeUnit.MICROS => Some(LongVal(raw))
          case TimeUnit.MILLIS => Some(LongVal(raw * 1000L)) // ±292k-year range: no overflow
          case TimeUnit.NANOS => Some(LongVal(Math.floorDiv(raw, 1000L)))
        }
      case (PrimitiveTypeName.FLOAT, _) =>
        val d = v.asInstanceOf[java.lang.Float].doubleValue
        if (d.isNaN) None else Some(DoubleVal(canonDouble(d)))
      case (PrimitiveTypeName.DOUBLE, _) =>
        val d = v.asInstanceOf[java.lang.Double].doubleValue
        if (d.isNaN) None else Some(DoubleVal(canonDouble(d)))
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
        val s = v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
        // Parquet orders UTF8 bounds by unsigned bytes; Java Strings by
        // UTF-16 units. The orders agree on ASCII only.
        if (s.forall(_ < 0x80)) Some(StringVal(s)) else None
      case _ => None // INT96, FLBA, unsigned ints, nested, …
    }
  }

  private def mergeBound(a: Option[StatVal], b: Option[StatVal], isMin: Boolean)
      : Option[StatVal] = (a, b) match {
    case (None, x) => x
    case (x, None) => x
    case (Some(x), Some(y)) =>
      val c = compare(x, y)
      Some(if ((c <= 0) == isMin) x else y)
  }

  /** Total order within comparable domains; None for a domain mismatch
    * (e.g. a corrupt-but-parseable manifest whose bound carries the wrong
    * value type). "Equal" would NOT be conservative for the pruner: strict
    * Lt/Gt comparisons treat equality as proof of non-overlap and drop the
    * file — a mismatch must surface as UNKNOWN so the caller keeps it. */
  def compareOpt(a: StatVal, b: StatVal): Option[Int] = (a, b) match {
    case (LongVal(x), LongVal(y)) => Some(java.lang.Long.compare(x, y))
    case (DoubleVal(x), DoubleVal(y)) => Some(java.lang.Double.compare(x, y))
    case (LongVal(x), DoubleVal(y)) => Some(java.lang.Double.compare(x.toDouble, y))
    case (DoubleVal(x), LongVal(y)) => Some(java.lang.Double.compare(x, y.toDouble))
    case (StringVal(x), StringVal(y)) => Some(x.compareTo(y))
    case (BoolVal(x), BoolVal(y)) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** [[compareOpt]] for same-domain callers (footer bound merging, where
    * both values come from one column of one file schema); a mismatch —
    * impossible there — degrades to "equal". The PRUNER must use
    * [[compareOpt]] and keep the file on None. */
  def compare(a: StatVal, b: StatVal): Int = compareOpt(a, b).getOrElse(0)

  // ---------------------------------------------------------------- write / read

  /** The `*.parquet` files directly under `dir`, by name. */
  def partFiles(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    finally listing.close()
  }

  /** Rows in the part files directly under `dir`, from their footers. */
  def footerRows(conf: Configuration, dir: Path): Long = partFiles(dir)
    .map(p => ofParquetFile(conf, new org.apache.hadoop.fs.Path(p.toUri), 0L, 0L).rows).sum

  /** Compute and atomically write `_stats.json` for every `*.parquet`
    * directly under `versionDir` (the `_changes` subdirectory keeps its own
    * lifecycle and is not covered). Best-effort by contract: callers wrap
    * in try/catch — a failed stats write must never fail the commit. */
  def writeStatsFile(conf: Configuration, versionDir: Path): Unit = {
    val stats = partFiles(versionDir).map { p =>
      p.getFileName.toString ->
        ofParquetFile(conf, new org.apache.hadoop.fs.Path(p.toUri),
          Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }
    val tmp = versionDir.resolve(StatsFileName + ".tmp")
    Files.writeString(tmp, toJson(stats.toMap))
    Files.move(tmp, versionDir.resolve(StatsFileName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readStatsFile(versionDir: Path): Option[Map[String, FileStat]] = {
    val f = versionDir.resolve(StatsFileName)
    if (!Files.exists(f)) None
    else
      try Some(fromJson(Files.readString(f)))
      catch { case NonFatal(_) => None } // corrupt manifest = no pruning
  }

  // Doubles are serialized as strings (Double.toString is lossless and
  // covers ±Infinity, which bare JSON cannot).
  private def valJson(v: StatVal): JValue = v match {
    case LongVal(x) => JObject("l" -> JLong(x))
    case DoubleVal(x) => JObject("d" -> JString(x.toString))
    case StringVal(x) => JObject("s" -> JString(x))
    case BoolVal(x) => JObject("b" -> JBool(x))
  }
  private def valFrom(j: JValue): Option[StatVal] = j match {
    case JObject(List(("l", JLong(x)))) => Some(LongVal(x))
    case JObject(List(("l", JInt(x)))) => Some(LongVal(x.toLong))
    case JObject(List(("d", JString(x)))) =>
      Some(DoubleVal(canonDouble(x.toDouble))) // old manifests may carry -0.0
    case JObject(List(("s", JString(x)))) => Some(StringVal(x))
    case JObject(List(("b", JBool(x)))) => Some(BoolVal(x))
    case _ => None
  }

  def toJson(stats: Map[String, FileStat]): String = {
    val files = stats.toSeq.sortBy(_._1).map { case (name, fs) =>
      name -> JObject(
        "rows" -> JLong(fs.rows),
        "bytes" -> JLong(fs.bytes),
        "mtime" -> JLong(fs.mtime),
        "leaves" -> JArray(fs.leaves.toSeq.sorted.map(JString(_)).toList),
        "cols" -> JObject(fs.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
          c -> JObject(List(
            cs.min.map(m => "min" -> valJson(m)),
            cs.max.map(m => "max" -> valJson(m)),
            cs.nullCount.map(n => "nulls" -> JLong(n))).flatten)
        }.toList))
    }
    JsonMethods.compact(JsonMethods.render(
      JObject("version" -> JInt(1), "files" -> JObject(files.toList))))
  }

  def fromJson(s: String): Map[String, FileStat] = {
    val root = JsonMethods.parse(s)
    val files = root \ "files" match {
      case JObject(fs) => fs
      case _ => Nil
    }
    files.map { case (name, fj) =>
      def long(field: String): Long = fj \ field match {
        case JLong(r) => r
        case JInt(r) => r.toLong
        case _ => 0L
      }
      val rows = long("rows")
      val leaves = fj \ "leaves" match {
        case JArray(xs) => xs.collect { case JString(x) => x }.toSet
        case _ => Set.empty[String]
      }
      val cols = fj \ "cols" match {
        case JObject(cs) =>
          cs.map { case (c, cj) =>
            c -> ColStats(
              valFrom(cj \ "min"),
              valFrom(cj \ "max"),
              cj \ "nulls" match {
                case JLong(n) => Some(n)
                case JInt(n) => Some(n.toLong)
                case _ => None
              })
          }.toMap
        case _ => Map.empty[String, ColStats]
      }
      name -> FileStat(rows, long("bytes"), long("mtime"), cols, leaves)
    }.toMap
  }
}

package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.Geometry

/** DataSource V2 connector for the ESRI-REST-style paged source
  * (`spark.read.format("graft-rest").option("path", serviceDir)`), the
  * pipeline's `rest_api` reader. A layer is a directory `layer-<id>` of
  * `page-*.json` FeatureCollection pages, what the reference's
  * pagination loop lands per request (rest_api.py:575-637).
  *
  * The reference's server-side query params (rest_api.py:189-209) are
  * the DSv2 pushdown contracts here, so Catalyst drives them:
  *  - SupportsPushDownFilters → `where`/bbox: each filter the page reader
  *    evaluates exactly ([[RestFilters.compile]]) runs inside it;
  *  - SupportsPushDownRequiredColumns → `outFields`;
  *  - SupportsPushDownLimit → `resultRecordCount` (early termination,
  *    rest_api.py:280-298).
  *
  * Option `layer_ids` (comma-separated) lists only those layers, and one
  * without pages fails the scan, naming it; without the option the
  * layers are discovered. The `_file` metadata column is each row's page
  * file, as `input_file_name()` is for the file readers. Each page is one
  * InputPartition: pagination becomes a parallel read.
  */
class RestDataSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-rest"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestTable.Schema

  // writes carry the frame's own schema into getTable (reads still infer)
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new RestTable(properties.get("path"), Option(schema))
}

object RestTable {
  /** the normalized feature schema (same shape as GeoJsonSource.read). */
  val Schema: StructType = StructType(Seq(
    StructField("layer_id", IntegerType),
    StructField("feature_id", LongType),
    StructField("properties", MapType(StringType, StringType)),
    StructField("geom_type", StringType),
    StructField("geometry", StringType),
    StructField("srid", IntegerType),
    StructField("xmin", DoubleType),
    StructField("ymin", DoubleType),
    StructField("xmax", DoubleType),
    StructField("ymax", DoubleType)))

  // R5: discoveries inside a TTL window are served from the driver-side
  // cache (performance.py:435-466 cached_request over rest_api.py:74-187)
  private[sources] val discoveryCache =
    new graft.util.ResponseCache[Seq[Int]](maxSize = 256)

  /** Layer discovery (S5): the sorted ids of the `layer-<id>` dirs under
    * the service dir, cached per service for `ttlSeconds` (the
    * `cache_ttl` source field; 0 re-lists every time).
    */
  def discoverLayers(serviceDir: String, ttlSeconds: Long = 3600): Seq[Int] =
    discoveryCache.getOrElseUpdate(
      graft.util.ResponseCache.requestKey(serviceDir,
        Map("op" -> "discoverLayers")), Some(ttlSeconds)) {
      Option(new java.io.File(serviceDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("layer-"))
        .map(_.getName.stripPrefix("layer-").toInt)
        .sorted.toSeq
    }

  /** The page files of each layer, in layer then page-name order; a
    * layer without pages fails, naming it.
    */
  def pages(serviceDir: String, layerIds: Seq[Int]): Seq[(Int, java.io.File)] = {
    if (layerIds.isEmpty)
      throw new java.io.FileNotFoundException(s"no layer-<id> directory under '$serviceDir'")
    layerIds.flatMap { id =>
      val files = Option(new java.io.File(serviceDir, s"layer-$id").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("page-") && f.getName.endsWith(".json"))
        .sortBy(_.getName)
      if (files.isEmpty)
        throw new java.io.FileNotFoundException(s"layer $id of '$serviceDir' has no page-*.json file")
      files.map(id -> _)
    }
  }
}

class RestTable(path: String, providedSchema: Option[StructType] = None) extends Table
  with SupportsRead
  with SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String                          = s"graft-rest:$path"
  override def schema(): StructType                    = providedSchema.getOrElse(RestTable.Schema)
  override def metadataColumns(): Array[MetadataColumn] = Array(new MetadataColumn {
    override def name(): String       = "_file"
    override def dataType(): DataType = StringType
  })
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val layerIds = Option(options.get("layer_ids")) match {
      case Some(ids) => ids.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
      case None      => RestTable.discoverLayers(path)
    }
    new RestScanBuilder(path, layerIds)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new RestWriteBuilder(path, info)
}

class RestScanBuilder(path: String, layerIds: Seq[Int])
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit {

  private var pushed: Array[Filter]       = Array.empty
  private var requiredSchema: StructType  = RestTable.Schema
  private var limit: Int                  = -1

  // Spark does not re-apply a pushed filter, so only the filters the
  // page reader evaluates exactly are pushed; the rest stay residual
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (canPush, residual) = filters.partition(RestFilters.compile(_).isDefined)
    pushed = canPush
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def pushLimit(l: Int): Boolean = { limit = l; true /* guaranteed */ }

  override def build(): Scan = new RestScan(path, layerIds, pushed, requiredSchema, limit)
}

class RestScan(
    path: String, layerIds: Seq[Int], filters: Array[Filter], required: StructType, limit: Int)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch           = this

  override def description(): String =
    s"graft-rest path=$path PushedFilters=[${filters.mkString(", ")}] " +
      s"ReadSchema=[${required.fieldNames.mkString(",")}] limit=$limit"

  override def planInputPartitions(): Array[InputPartition] =
    RestTable.pages(path, layerIds).map { case (layerId, file) =>
      RestPagePartition(layerId, file.getAbsolutePath): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(filters, required, limit)
}

case class RestPagePartition(layerId: Int, file: String) extends InputPartition

class RestReaderFactory(filters: Array[Filter], required: StructType, limit: Int)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[RestPagePartition]
    new RestPageReader(part.layerId, part.file, filters, required, limit)
  }
}

/** One feature of a page, as the page reader holds it. Every field but
  * `props` is non-null: features without a parseable geometry are not
  * emitted. `props` is null when the feature has no properties object.
  */
private[v2] final case class RestFeature(
    layerId: Int, featureId: Long, props: Seq[(String, String)], geomType: String,
    wkt: String, srid: Int, bb: Geometry.BBox)

/** The filters the page reader evaluates. One function answers both
  * "can this filter be pushed" (it compiles) and "does this feature pass"
  * (the compiled predicate), so the two cannot drift apart. Every column
  * a filter may name is non-null on every feature, so two-valued logic
  * is exact for non-null literals; a null literal, an unknown column or
  * an unlisted kind does not compile.
  */
private[v2] object RestFilters {

  type Pred = RestFeature => Boolean

  // each column with the boxed type Spark casts its literals to
  val columns: Map[String, (Class[_], RestFeature => Any)] = Map(
    "layer_id"   -> (classOf[java.lang.Integer], _.layerId),
    "feature_id" -> (classOf[java.lang.Long], _.featureId),
    "srid"       -> (classOf[java.lang.Integer], _.srid),
    "geom_type"  -> (classOf[String], _.geomType),
    "xmin"       -> (classOf[java.lang.Double], _.bb.xmin),
    "ymin"       -> (classOf[java.lang.Double], _.bb.ymin),
    "xmax"       -> (classOf[java.lang.Double], _.bb.xmax),
    "ymax"       -> (classOf[java.lang.Double], _.bb.ymax))

  // Spark's order: -0.0 equals 0.0, NaN equals itself and sorts last,
  // strings compare by their UTF-8 bytes
  private def cmp(x: Any, y: Any): Int = (x, y) match {
    case (a: Double, b: Double) => if (a == b) 0 else java.lang.Double.compare(a, b)
    case (a: String, b: String) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    case (a: Comparable[Any @unchecked], b) => a.compareTo(b)
  }

  private def order(a: String, v: Any): Option[RestFeature => Int] =
    columns.get(a).collect { case (cls, get) if v != null && v.getClass == cls => f => cmp(get(f), v) }

  private def string(a: String, v: String)(test: (String, String) => Boolean): Option[Pred] =
    columns.get(a).collect { case (cls, get) if v != null && cls == classOf[String] =>
      f => test(get(f).asInstanceOf[String], v) }

  def compile(flt: Filter): Option[Pred] = flt match {
    case EqualTo(a, v)            => order(a, v).map(c => f => c(f) == 0)
    case EqualNullSafe(a, v)      => order(a, v).map(c => f => c(f) == 0)
    case GreaterThan(a, v)        => order(a, v).map(c => f => c(f) > 0)
    case GreaterThanOrEqual(a, v) => order(a, v).map(c => f => c(f) >= 0)
    case LessThan(a, v)           => order(a, v).map(c => f => c(f) < 0)
    case LessThanOrEqual(a, v)    => order(a, v).map(c => f => c(f) <= 0)
    case In(a, vs) =>
      val cs = vs.toSeq.map(order(a, _))
      Option.when(cs.forall(_.isDefined)) { val eq = cs.flatten; f: RestFeature => eq.exists(_(f) == 0) }
    case IsNull(a) if columns.contains(a)    => Some(_ => false)
    case IsNotNull(a) if columns.contains(a) => Some(_ => true)
    case StringStartsWith(a, v) => string(a, v)(_.startsWith(_))
    case StringEndsWith(a, v)   => string(a, v)(_.endsWith(_))
    case StringContains(a, v)   => string(a, v)(_.contains(_))
    case And(l, r) => for (pl <- compile(l); pr <- compile(r)) yield f => pl(f) && pr(f)
    case Or(l, r)  => for (pl <- compile(l); pr <- compile(r)) yield f => pl(f) || pr(f)
    case Not(c)    => compile(c).map(p => f => !p(f))
    case _         => None
  }
}

/** Reads one canned page (FeatureCollection JSON), applies pushed
  * filters and the limit, emits only required columns.
  */
class RestPageReader(
    layerId: Int, file: String, filters: Array[Filter],
    required: StructType, limit: Int)
  extends PartitionReader[InternalRow] {

  // every pushed filter compiled (pushFilters admitted only those)
  private val preds = filters.map(RestFilters.compile(_).get)
  // the form input_file_name() gives a file reader's rows
  private val fileUri = UTF8String.fromString(java.nio.file.Paths.get(file).toUri.toString)

  private lazy val features: Iterator[RestFeature] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
    val srid = Option(root.get("crs")).map(_.toString)
      .map(graft.sources.GeoJsonSource.parseSrid(_, 3006)).getOrElse(3006)
    val fs = Option(root.get("features")).map(_.elements().asScala).getOrElse(Iterator.empty)
    fs.zipWithIndex.flatMap { case (f, i) =>
      // null where the JSON reader has null: a missing or non-object
      // properties member, and a JSON null value
      val props = Option(f.get("properties")).filter(_.isObject).map { p =>
        p.properties().asScala.toSeq.map { e =>
          val v = e.getValue
          e.getKey -> (if (v.isNull) null else if (v.isTextual) v.asText() else v.toString)
        }
      }.orNull
      Option(f.get("geometry")).map(_.toString).flatMap(Geometry.fromGeoJson).map { g =>
        RestFeature(layerId, i.toLong, props, g.kind, Geometry.toWkt(g), srid, Geometry.bbox(g))
      }
    }
  }

  private var current: RestFeature = _
  private var emitted              = 0

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false // early termination
    while (features.hasNext) {
      val f = features.next()
      if (preds.forall(_(f))) { current = f; emitted += 1; return true }
    }
    false
  }

  override def get(): InternalRow = {
    val f = current
    InternalRow.fromSeq(required.fields.toIndexedSeq.map { sf =>
      sf.name match {
        case "properties" if f.props == null => null
        case "properties" =>
          ArrayBasedMapData(
            f.props.map(kv => UTF8String.fromString(kv._1)).toArray,
            f.props.map(kv => UTF8String.fromString(kv._2)).toArray)
        case "geom_type"  => UTF8String.fromString(f.geomType)
        case "geometry"   => UTF8String.fromString(f.wkt)
        case "_file"      => fileUri
        case other        => RestFilters.columns.get(other).map(_._2(f)).orNull
      }
    })
  }

  override def close(): Unit = ()
}

package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Naming

import QuerySupport._

/** Spatial and publish-naming queries: the bbox filter, the
  * feature-class naming rules, the z-ordered box scan and the polygon
  * clip.
  */
object GeoQueries extends QueryFamily(Family.Geo) {

  private val slugSqlBody = {
    val translated = "lower(translate(source, 'åäöÅÄÖ', 'aaoAAO'))"
    val repl       = s"regexp_replace($translated, '[^\\w\\-]+', '_', 'g')"
    val collapsed  = s"regexp_replace($repl, '__+', '_', 'g')"
    val stripped   = s"regexp_replace($collapsed, '^_+|_+$$', '', 'g')"
    s"CASE WHEN length($stripped) = 0 THEN 'unnamed' ELSE $stripped END"
  }

  private val arcgisSqlBody = {
    val s         = slugSqlBody
    val hyph      = s"regexp_replace($s, '-', '_', 'g')"
    val ascii     = s"regexp_replace($hyph, '[^A-Za-z0-9_]', '_', 'g')"
    val collapsed = s"regexp_replace(regexp_replace($ascii, '__+', '_', 'g'), '^_+|_+$$', '', 'g')"
    val guarded   = s"CASE WHEN regexp_matches($collapsed, '^[0-9]') THEN '_' || $collapsed ELSE $collapsed END"
    val nonEmpty  = s"CASE WHEN length($guarded) = 0 THEN 'unnamed' ELSE $guarded END"
    s"substring($nonEmpty, 1, 128)"
  }

  private val fcNameSqlBody = {
    val auth = "'docs'"
    val prefixed =
      s"CASE WHEN starts_with(lower($arcgisSqlBody), $auth || '_') THEN $arcgisSqlBody " +
        s"ELSE $auth || '_' || $arcgisSqlBody END"
    s"regexp_replace(substring($prefixed, 1, 128), '_+$$', '', 'g')"
  }

  private val sdeSqlBody = {
    val dashed    = "regexp_replace(source, '[-\\s\\.]+', '_', 'g')"
    val swedish   = s"translate($dashed, 'åäö', 'aao')"
    val word      = s"regexp_replace($swedish, '[^\\w]', '_', 'g')"
    val collapsed = s"regexp_replace(regexp_replace($word, '_{2,}', '_', 'g'), '^_+|_+$$', '', 'g')"
    val guarded   = s"CASE WHEN regexp_matches($collapsed, '^[0-9]') THEN 'fc_' || $collapsed ELSE $collapsed END"
    s"CASE WHEN length($guarded) = 0 THEN 'unnamed_fc' ELSE $guarded END"
  }

  /** Bbox "spatial" predicate over numeric coordinate columns (G3 form):
    * pushed to the parquet scan as plain min/max comparisons.
    */
  query("q15_bbox_parts", oracle =
      s"""SELECT p_partkey, p_size AS x, ${centsSql("p_retailprice")} AS y
         |FROM part WHERE p_size BETWEEN 10 AND 40
         | AND CAST(p_retailprice AS DECIMAL(18,2)) BETWEEN 500 AND 1500
         |ORDER BY p_partkey""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "part")
      .filter(col("p_size").between(10, 40) &&
        dec2(col("p_retailprice")).between(lit(500), lit(1500)))
      .select(col("p_partkey"), col("p_size").as("x"),
        cents(col("p_retailprice")).as("y"))
      .orderBy("p_partkey")
  }

  query("q16_names_slug", oracle =
      s"""SELECT source, $slugSqlBody AS slug, $fcNameSqlBody AS fc_name, $sdeSqlBody AS sde_name
         |FROM (SELECT DISTINCT source FROM documents) ORDER BY source"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "documents")
      .select(col("source")).distinct()
      .withColumn("slug", Naming.slugifyCol(col("source")))
      .withColumn("fc_name", Naming.generateFcNameCol(lit("DOCS"), col("source")))
      .withColumn("sde_name", Naming.sanitizeSdeNameCol(col("source")))
      .orderBy("source")
  }

  /** Z-order layout ([[graft.operators.ZOrder]]): lineitem re-laid on
    * the Morton curve of (l_partkey, l_suppkey), then a 2-d box filter
    * aggregated per return flag. Layout is semantics-free (the q75
    * contract), so the oracle is the plain filter over the original
    * table; ZOrderSpec measures what the layout buys (the z-ordered
    * scan decodes ≤ half the rows of a 1-d sort for the same box) and
    * pins the wrap-don't-fail kernel. The copy is written once per
    * source tag ([[graft.operators.ZOrder.ensureZOrdered]], the
    * ensureBucketed idempotence contract).
    */
  // layout is semantics-free: the oracle filters the ORIGINAL table —
  // the z-ordered copy must return the identical box
  query("q84_zorder_box", layouts = Seq(Layouts.q84Path), oracle =
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty_c
         |FROM lineitem
         |WHERE l_partkey <= 50 AND l_suppkey <= 5
         |GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val path = Layouts.q84Path(s, d)
    s.read.parquet(path)
      .filter(col("l_partkey") <= 50L && col("l_suppkey") <= 5L)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum(cents(col("l_quantity"))).as("qty_c"))
      .orderBy("l_returnflag")
  }

  /** Polygon-AOI clip under the ORACLE (G1's exact kernel, hash-gated):
    * per document a synthetic point and a 1.5×1.5 square at
    * half-integer centers are clipped against a CONCAVE rectilinear
    * L-shaped AOI through the full production path —
    * [[graft.geo.GeoFunctions.stClipPolygon]]: WKT parse → prepared-AOI
    * cache → ear-clipped triangles → per-triangle Sutherland–Hodgman →
    * dissolve. Because the AOI is rectilinear it decomposes into two
    * disjoint axis rectangles, so DuckDB re-derives containment and the
    * exact clipped area in pure SQL (no spatial extension). Square
    * edges sit at quarter-offsets (n±0.25, n±0.75) against the AOI's
    * integer edges — squares STRADDLE boundaries (and the concave
    * corner), so partial clips of the production kernel are exercised,
    * while no point or edge ever lies ON a boundary, keeping even-odd
    * containment equal to the open-interior test; areas are multiples
    * of 1/16, emitted ×16 as BIGINT (ROUND absorbs the ~1-ulp float
    * residue of the diagonal triangulation cuts).
    */
  // the L-shaped AOI decomposes into two DISJOINT axis rectangles
  // ([0,60]×[0,40] ∪ [0,30]×[40,80)), so point containment is two
  // open-interval tests (half-integer coords never sit on an integer
  // edge) and the clipped square area is the sum of two axis-rect
  // overlaps — pure SQL, no spatial extension; ×16 lands the
  // quarter-integer areas on exact BIGINTs
  query("q124_polygon_clip", oracle =
      """WITH p AS (SELECT doc_id,
        |  (doc_id % 89) + 0.5 AS x, ((doc_id * 7) % 83) + 0.5 AS y
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN (x > 0 AND x < 60 AND y > 0 AND y < 40)
        |    OR (x > 0 AND x < 30 AND y > 40 AND y < 80)
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept,
        |  CAST(ROUND((
        |    GREATEST(0, LEAST(x + 0.75, 60) - GREATEST(x - 0.75, 0)) *
        |      GREATEST(0, LEAST(y + 0.75, 40) - GREATEST(y - 0.75, 0)) +
        |    GREATEST(0, LEAST(x + 0.75, 30) - GREATEST(x - 0.75, 0)) *
        |      GREATEST(0, LEAST(y + 0.75, 80) - GREATEST(y - 0.75, 40))
        |  ) * 16) AS BIGINT) AS clip16
        |FROM p ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    import graft.geo.GeoFunctions
    // L-shape: [0,60]×[0,40] ∪ [0,30]×[40,80]
    val aoi = "POLYGON ((0 0, 60 0, 60 40, 30 40, 30 80, 0 80, 0 0))"
    val base = t(s, d, "documents").select(col("doc_id"))
      .withColumn("x", (col("doc_id") % 89).cast("double") + lit(0.5))
      .withColumn("y", ((col("doc_id") * 7) % 83).cast("double") + lit(0.5))
    // WKT built from double→string CASTS (Double.toString — always a
    // dot decimal separator), not format_string (locale-dependent
    // java.util.Formatter: a comma-decimal default locale would emit
    // unparseable WKT)
    def xy(cx: Column, cy: Column): Column =
      concat(cx.cast("string"), lit(" "), cy.cast("string"))
    base
      .withColumn("pt", concat(lit("POINT ("), xy(col("x"), col("y")), lit(")")))
      .withColumn("sq", concat(lit("POLYGON (("),
        xy(col("x") - 0.75, col("y") - 0.75), lit(", "),
        xy(col("x") + 0.75, col("y") - 0.75), lit(", "),
        xy(col("x") + 0.75, col("y") + 0.75), lit(", "),
        xy(col("x") - 0.75, col("y") + 0.75), lit(", "),
        xy(col("x") - 0.75, col("y") - 0.75), lit("))")))
      .select(col("doc_id"),
        when(GeoFunctions.stClipPolygon(col("pt"), aoi).isNotNull, 1L)
          .otherwise(0L).as("kept"),
        round(GeoFunctions.stArea(
          GeoFunctions.stClipPolygon(col("sq"), aoi)) * 16).cast("long")
          .as("clip16"))
      .orderBy("doc_id")
  }
}

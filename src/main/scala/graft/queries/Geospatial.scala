package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.functions._
import graft.gen.Fixtures
import graft.ops.{Georef, Grid, Knn, SpatialJoin, Tiling}
import graft.sql.Cells.{Hex, Quad}

/** Geospatial operator surface (SURVEY.md §2.3/§2.8) under the driver's
  * DuckDB oracle. Geometry derives deterministically from the TPC-H keys
  * (graft.gen.Fixtures) so the oracle can re-derive it in SQL.
  *
  * FLOAT PARITY RULE: every oracle SQL string mirrors the Scala kernel's
  * exact IEEE op order (basic ops are exactly specified → bit-identical
  * doubles). Transcendental results (ln/tan of the Mercator y) are only
  * ever compared AFTER an integer floor with ≫1-ulp margins.
  */
object Geospatial {

  /** Shared points CTE (must match Fixtures.pointsFromOrders verbatim). */
  private val PtsCte =
    """pts AS (
      |  SELECT o_orderkey AS point_id,
      |         ((((o_orderkey * 9973) % 360000) / 1000.0) - 180.0) AS lon,
      |         ((((o_orderkey * 7919) % 170000) / 1000.0) - 85.0) AS lat,
      |         o_totalprice
      |  FROM orders)""".stripMargin

  /** Shared hex-bin CTE chain (mirrors core.Hex.hexOf at size = 4.0
    * verbatim — ONE definition feeds both q170 and q171 so the oracles
    * cannot silently certify different kernels): expects `pts` in
    * scope, ends at `bins(hexq, hexr, n)`. */
  private val HexBinCtes = """ax AS (
        SELECT point_id,
          (sqrt(3.0) / 3.0 * lon - (1.0 / 3.0) * lat) / 4.0 AS qt,
          ((2.0 / 3.0) * lat) / 4.0 AS rt
        FROM pts),
      cu AS (SELECT point_id, qt, rt, (-qt) - rt AS yt FROM ax),
      rr AS (SELECT point_id, qt, rt, yt,
        floor(qt + 0.5) AS rx, floor(yt + 0.5) AS ry, floor(rt + 0.5) AS rz FROM cu),
      dd AS (SELECT point_id, rx, ry, rz,
        abs(rx - qt) AS dx, abs(ry - yt) AS dy, abs(rz - rt) AS dz FROM rr),
      fx AS (SELECT point_id,
        CASE WHEN dx > dy AND dx > dz THEN (-ry) - rz ELSE rx END AS fq,
        CASE WHEN dx > dy AND dx > dz THEN rz
             WHEN dy > dz THEN rz
             ELSE (-rx) - ry END AS fr
        FROM dd),
      bins AS (
        SELECT CAST(fq AS BIGINT) AS hexq, CAST(fr AS BIGINT) AS hexr,
          CAST(count(*) AS BIGINT) AS n
        FROM fx GROUP BY 1, 2)"""

  /** Shared points×region-boxes theta-join oracle (mirrors
    * Fixtures.regionBoxesSpec verbatim — ONE copy feeds q22 and q172, so
    * the quadkey-keyed and hex-keyed joins are certified against the
    * same fixture arithmetic). Expects `pts` in scope. */
  private val RegionThetaSql = """
      SELECT p.point_id AS point_id, CAST(n.n_nationkey AS BIGINT) AS region_id
      FROM pts p, nation n
      WHERE p.lon > ((((n.n_nationkey % 5) * 72.0) - 180.0) + 0.0005)
        AND p.lon < (((((n.n_nationkey % 5) * 72.0) - 180.0) + 0.0005) + 57.6)
        AND p.lat > (((((n.n_nationkey - (n.n_nationkey % 5)) / 5) * 34.0) - 85.0) + 0.0005)
        AND p.lat < ((((((n.n_nationkey - (n.n_nationkey % 5)) / 5) * 34.0) - 85.0) + 0.0005) + 27.2)"""

  private val MercC = "((6378137.0 * pi()) / 180.0)" // degrees→meters (Mercator.x)
  private def mercY(lat: String) =
    s"(6378137.0 * ln(tan((pi() / 4.0) + (($lat * (pi() / 180.0)) / 2.0))))"
  private val OriginX = "(-(6378137.0 * pi()))"
  private val OriginY = "(6378137.0 * pi())"
  private def spanZ(z: String) =
    s"(((((2.0 * pi()) * 6378137.0) / 256.0) / CAST((1 << $z) AS DOUBLE)) * 256.0)"

  /** Image-spec CTE over part keys, 4326 branch (mirrors Fixtures.genImage). */
  private val ImgCte =
    """img AS (
      |  SELECT p_partkey AS key,
      |    CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END AS sz,
      |    (CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499))) AS span,
      |    ((((p_partkey * 9973) % 350000) / 1000.0) - 180.0) AS lon0,
      |    ((((p_partkey * 7919) % 160000) / 1000.0) - 80.0) AS lat0
      |  FROM part WHERE (p_partkey % 8) <> 1),
      |env AS (
      |  SELECT key, lon0 AS minx, (lat0 + (sz * (-(span / sz)))) AS miny,
      |         (lon0 + (sz * (span / sz))) AS maxx, lat0 AS maxy
      |  FROM img)""".stripMargin

  /** Grid-interpolation oracle: supplier nodes × valued order points with
    * the exact dist2 predicate (mirrors Fixtures.nodesFromSuppliers /
    * valuedPointsFromOrders and ops.Grid.candidates at radius 5). */
  private val GridCte =
    """gnodes AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS t_id,
      |         CAST(((((s_suppkey * 31) % 360) - 180) + 0.25) AS DOUBLE) AS t_lon,
      |         CAST(((((s_suppkey * 17) % 160) - 80) + 0.25) AS DOUBLE) AS t_lat
      |  FROM supplier),
      |gpts AS (
      |  SELECT o_orderkey AS p_id,
      |         ((((o_orderkey * 9973) % 360000) / 1000.0) - 180.0) AS p_lon,
      |         ((((o_orderkey * 7919) % 170000) / 1000.0) - 85.0) AS p_lat,
      |         CAST(round(o_totalprice) AS BIGINT) AS value_i
      |  FROM orders),
      |cand AS (
      |  SELECT n.t_id, p.p_id, p.value_i,
      |         (((p.p_lon - n.t_lon) * (p.p_lon - n.t_lon))
      |          + ((p.p_lat - n.t_lat) * (p.p_lat - n.t_lat))) AS dist2
      |  FROM gnodes n, gpts p
      |  WHERE (((p.p_lon - n.t_lon) * (p.p_lon - n.t_lon))
      |         + ((p.p_lat - n.t_lat) * (p.p_lat - n.t_lat))) <= 25.0)""".stripMargin

  /** Pixel-level enumeration of the oracle-scoped zonal corpus (raw/png,
    * sz ≤ 64, srid 4326) crossed with the region boxes: one row per pixel
    * whose center falls in a zone, v = the closed-form pattern value.
    * Expects Geometry.BoxCte (`boxes`) in the same WITH. */
  private val ZPixCte =
    """zimg AS (
      |  SELECT p_partkey AS key,
      |    CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz,
      |    (CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499))) AS span,
      |    ((((p_partkey * 9973) % 350000) / 1000.0) - 180.0) AS lon0,
      |    ((((p_partkey * 7919) % 160000) / 1000.0) - 80.0) AS lat0
      |  FROM part
      |  WHERE (p_partkey % 8) <> 1 AND (p_partkey % 3) <> 2 AND (p_partkey % 4) <> 3),
      |zres AS (SELECT key, sz, (span / sz) AS res, lon0, lat0 FROM zimg),
      |zrows AS (SELECT key, sz, res, lon0, lat0, unnest(generate_series(0, sz - 1)) AS py FROM zres),
      |zpx AS (SELECT key, sz, res, lon0, lat0, py, unnest(generate_series(0, sz - 1)) AS px FROM zrows),
      |zc AS (
      |  SELECT z.key, z.sz, b.region_id, z.px, z.py,
      |         CAST(((z.px * 7) + (z.py * 13) + (z.key * 31)) % 256 AS INT) AS v
      |  FROM zpx z, boxes b
      |  WHERE (z.lon0 + ((CAST(z.px AS DOUBLE) + 0.5) * z.res)) > b.minx
      |    AND (z.lon0 + ((CAST(z.px AS DOUBLE) + 0.5) * z.res)) < b.maxx
      |    AND (z.lat0 + ((CAST(z.py AS DOUBLE) + 0.5) * (-(z.res)))) > b.miny
      |    AND (z.lat0 + ((CAST(z.py AS DOUBLE) + 0.5) * (-(z.res)))) < b.maxy)""".stripMargin

  /** Full-image pixel enumeration of the exactly-decodable (raw/png) sz≤64
    * corpus — no zone join; used by the image-stat / polygonize / focal
    * oracles. */
  private val PixCte =
    """pimg AS (
      |  SELECT p_partkey AS key,
      |    CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz
      |  FROM part WHERE (p_partkey % 3) <> 2 AND (p_partkey % 4) <> 3),
      |prows AS (SELECT key, sz, unnest(generate_series(0, sz - 1)) AS py FROM pimg),
      |ppx AS (SELECT key, sz, py, unnest(generate_series(0, sz - 1)) AS px FROM prows),
      |pv AS (SELECT key, sz, px, py, ((px * 7) + (py * 13) + (key * 31)) % 256 AS v FROM ppx)""".stripMargin

  /** GDAL checksum as SQL over enumerated pixel values: per-line &0xFFFF of
    * non-negative sums ≡ one final mod 65536. */
  private def checksumSql(v: String) =
    s"CAST(sum(($v) % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + px) % 11) + 1]) % 65536 AS INT)"

  /** Quantized pattern class at an (expr, expr) pixel offset. */
  private def clsSql(px: String, py: String) =
    s"((((($px) * 7) + (($py) * 13) + (key * 31)) % 256) >> 6)"

  /** Pattern value at a CLAMPED neighbor offset (edge-replicated, the
    * focal kernels' at() rule). */
  private def clampedV(dx: Int, dy: Int) = {
    val cx = s"least(greatest(px + ${dx}, 0), sz - 1)"
    val cy = s"least(greatest(py + ${dy}, 0), sz - 1)"
    s"((($cx * 7) + ($cy * 13) + (key * 31)) % 256)"
  }

  /** q106 shared ramp — one (elev, r, g, b, a) row per stop, ascending.
    * Integer stops/channels keep every interpolation input exactly
    * representable, so the SQL mirror is bit-identical (see
    * colorReliefOracle). Stops 0 and 255 clamp; 60/120/200 hit exact
    * matches on the integer pattern band; alpha < 255 rows exercise the
    * fourth channel. */
  private[queries] val ColorReliefRamp: Seq[(Int, Int, Int, Int, Int)] = Seq(
    (0, 16, 32, 64, 255), (60, 0, 128, 0, 255), (120, 240, 230, 140, 200),
    (200, 139, 69, 19, 255), (255, 250, 250, 250, 64))

  /** q106 oracle: Focal.reliefColor (apps/gdaldem_lib.cpp:1639
    * GDALColorReliefGetRGBA) re-spelled per pixel in SQL for all three
    * selection modes. INTERPOLATE mirrors the kernel's exact op order
    * trunc(0.5 + lo + ((v-e_lo)/(e_hi-e_lo))·(hi-lo)) on all-integer
    * inputs (each IEEE op exactly rounded in both engines); NEAREST keeps
    * the strict `<` tie-to-upper; EXACT yields 0,0,0,0 on any non-stop
    * value. Channel planes are then GDAL-checksummed and summed exactly. */
  private lazy val colorReliefOracle: String = {
    val R = ColorReliefRamp
    val n = R.length
    def e(i: Int) = R(i)._1
    def c(i: Int, k: Int) = k match {
      case 1 => R(i)._2; case 2 => R(i)._3; case 3 => R(i)._4; case _ => R(i)._5
    }
    def interp(k: Int): String = {
      val mid = (1 until n).map { i =>
        val lo = e(i - 1); val hi = e(i)
        s"WHEN v < $hi THEN CAST(floor((0.5 + ${c(i - 1, k)}.0) + " +
          s"(((CAST(v AS DOUBLE) - $lo.0) / ${hi - lo}.0) * ${c(i, k) - c(i - 1, k)}.0)) AS BIGINT)"
      }.mkString(" ")
      s"(CASE WHEN v <= ${e(0)} THEN ${c(0, k)} $mid ELSE ${c(n - 1, k)} END)"
    }
    def nearest(k: Int): String = {
      val exacts = (1 until n - 1).map(i => s"WHEN v = ${e(i)} THEN ${c(i, k)}").mkString(" ")
      val mid = (1 until n).map { i =>
        s"WHEN v < ${e(i)} THEN (CASE WHEN (v - ${e(i - 1)}) < (${e(i)} - v) " +
          s"THEN ${c(i - 1, k)} ELSE ${c(i, k)} END)"
      }.mkString(" ")
      s"(CASE WHEN v <= ${e(0)} THEN ${c(0, k)} $exacts $mid ELSE ${c(n - 1, k)} END)"
    }
    def exact(k: Int): String = {
      val ws = (0 until n).map(i => s"WHEN ${e(i)} THEN ${c(i, k)}").mkString(" ")
      s"(CASE v $ws ELSE 0 END)"
    }
    def block(tag: String, ch: Int => String): String =
      s"""${checksumSql(ch(1))} AS ${tag}_cr, ${checksumSql(ch(2))} AS ${tag}_cg,
         |    ${checksumSql(ch(3))} AS ${tag}_cb,
         |    CAST(sum(${ch(1)}) AS BIGINT) AS ${tag}_sr, CAST(sum(${ch(2)}) AS BIGINT) AS ${tag}_sg,
         |    CAST(sum(${ch(3)}) AS BIGINT) AS ${tag}_sb, CAST(sum(${ch(4)}) AS BIGINT) AS ${tag}_sa""".stripMargin
    def out(mode: String, tag: String): String =
      s"""SELECT '$mode' AS mode, count(*) AS n,
         |  CAST(sum(${tag}_cr) AS BIGINT) AS cr_sum, CAST(sum(${tag}_cg) AS BIGINT) AS cg_sum,
         |  CAST(sum(${tag}_cb) AS BIGINT) AS cb_sum,
         |  CAST(sum(${tag}_sr) AS BIGINT) AS sum_r, CAST(sum(${tag}_sg) AS BIGINT) AS sum_g,
         |  CAST(sum(${tag}_sb) AS BIGINT) AS sum_b, CAST(sum(${tag}_sa) AS BIGINT) AS sum_a
         |FROM per""".stripMargin
    s"""
      WITH $PixCte,
      per AS (
        SELECT key,
          ${block("i", interp)},
          ${block("nr", nearest)},
          ${block("x", exact)}
        FROM pv GROUP BY key, sz)
      ${out("interpolate", "i")}
      UNION ALL
      ${out("nearest", "nr")}
      UNION ALL
      ${out("exact", "x")}"""
  }

  private def quadkeySql(tx: String, ty: String, z: Int): String =
    (z - 1).to(0, -1).map(b =>
      s"CAST((($tx >> $b) & 1) + (2 * (($ty >> $b) & 1)) AS VARCHAR)").mkString(" || ")

  /** q95 oracle: the RPC forward map spelled in SQL with the kernel's
    * exact op order (Rpc.terms/evalPoly/forward). Coefficients are emitted
    * as k/512 exact-binary rationals from the SAME model object the Spark
    * side evaluates, so both engines run the identical exactly-rounded op
    * sequence — raw doubles compare bit-identically. */
  private lazy val rpcForwardOracle: String = {
    val m = Fixtures.benchRpc
    def coef(c: Double): String = s"(CAST(${math.round(c * 512)} AS DOUBLE)/512)"
    def tname(i: Int): String = i match {
      case 0 => "CAST(1 AS DOUBLE)"
      case 1 => "l"
      case 2 => "p"
      case 3 => "hh"
      case n => s"t$n"
    }
    // RPCEvaluate: two accumulators over i += 2, then one final add
    def poly(c: Array[Double]): String = {
      val evens = (0 until 20 by 2).map(i => s"(${tname(i)} * ${coef(c(i))})").mkString(" + ")
      val odds = (1 until 20 by 2).map(i => s"(${tname(i)} * ${coef(c(i))})").mkString(" + ")
      s"(($evens) + ($odds))"
    }
    s"""
      WITH rpts AS (
        SELECT o_orderkey AS id,
          (CAST(5 AS DOUBLE) + (CAST((o_orderkey * 13) % 101 AS DOUBLE) / CAST(10 AS DOUBLE))) AS lon,
          (CAST(15 AS DOUBLE) + (CAST((o_orderkey * 7) % 101 AS DOUBLE) / CAST(10 AS DOUBLE))) AS lat,
          CAST(((o_orderkey * 3) % 81) - 40 AS DOUBLE) AS h
        FROM orders),
      n AS (
        SELECT id,
          ((lon - CAST(10 AS DOUBLE)) / CAST(5 AS DOUBLE)) AS l,
          ((lat - CAST(20 AS DOUBLE)) / CAST(5 AS DOUBLE)) AS p,
          (h / CAST(100 AS DOUBLE)) AS hh
        FROM rpts),
      t AS (
        SELECT id, l, p, hh,
          (l*p) AS t4, (l*hh) AS t5, (p*hh) AS t6, (l*l) AS t7, (p*p) AS t8,
          (hh*hh) AS t9, (l*p*hh) AS t10, (l*l*l) AS t11, (l*p*p) AS t12,
          (l*hh*hh) AS t13, (l*l*p) AS t14, (p*p*p) AS t15, (p*hh*hh) AS t16,
          (l*l*hh) AS t17, (p*p*hh) AS t18, (hh*hh*hh) AS t19
        FROM n)
      SELECT id,
        ((${poly(m.sampNum)} / ${poly(m.sampDen)}) * CAST(500 AS DOUBLE) + CAST(500 AS DOUBLE)) AS samp,
        ((${poly(m.lineNum)} / ${poly(m.lineDen)}) * CAST(500 AS DOUBLE) + CAST(500 AS DOUBLE)) AS line
      FROM t"""
  }

  val defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // §2 north star: lon/lat → packed cell id inside a codegen'd expression
    ("q20_cell_encode", (s: SparkSession, dir: String) => {
      Fixtures.pointsFromOrders(s, dir)
        .select(col("point_id"), cell_of(col("lon"), col("lat"), 12).as("cell"))
    }, Some(s"""
      WITH $PtsCte
      SELECT point_id,
             ((CAST(12 AS BIGINT) << 58) | (cx << 29) | cy) AS cell
      FROM (
        SELECT point_id,
          CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 4096.0), 0.0), 4095.0) AS BIGINT) AS cx,
          CAST(least(greatest(floor(((90.0 - lat) / 180.0) * 4096.0), 0.0), 4095.0) AS BIGINT) AS cy
        FROM pts)""")),

    // Spatially-BUFFERED train/val split (blocked spatial CV, Roberts et
    // al. 2017): split by splitmix64(cell + salt) at level 6 — the
    // avalanche mix is load-bearing (an affine cell hash recurs along
    // fixed lattice directions) — then exclude train rows
    // Chebyshev-adjacent to any val cell CONTAINING data (lon wraps, lat
    // clamps — the CellIndex.block rule). Full per-row oracle: the SQL
    // mirrors the cell arithmetic (q20), the splitmix64 HUGEINT limb
    // chain (the q154 machinery), the data-aware val-cell set, and the
    // ring-1 buffer join.
    ("q157_spatial_split", (s: SparkSession, dir: String) => {
      graft.ops.Sampling.spatialSplit(
        Fixtures.pointsFromOrders(s, dir), "lon", "lat",
        level = 6, valPermille = 100L, salt = 7L)
        .select(col("point_id"), col("cell"), col("split"))
    }, Some(s"""
      WITH $PtsCte,
      cc AS (
        SELECT point_id,
          CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 64.0), 0.0), 63.0) AS BIGINT) AS cx,
          CAST(least(greatest(floor(((90.0 - lat) / 180.0) * 64.0), 0.0), 63.0) AS BIGINT) AS cy
        FROM pts),
      cc2 AS (
        SELECT point_id, cx, cy,
          ((CAST(6 AS BIGINT) << 58) | (cx << 29) | cy) AS cell,
          ((CAST(6 AS BIGINT) << 58) | (cx << 29) | cy) + 7 AS sid
        FROM cc),
      ${TrainingData.smixCtes("cc2", "sid", "point_id, cx, cy, cell")},
      sp AS (
        SELECT point_id, cx, cy, cell,
          CASE WHEN (bucket % 1000) < 100 THEN 'val' ELSE 'train' END AS s0
        FROM smb),
      vc AS (SELECT DISTINCT cx, cy FROM sp WHERE s0 = 'val'),
      d AS (SELECT a.dx, b.dy
            FROM (SELECT unnest([-1, 0, 1]) AS dx) a,
                 (SELECT unnest([-1, 0, 1]) AS dy) b),
      buf AS (
        SELECT DISTINCT ((v.cx + d.dx + 64) % 64) AS bx, v.cy + d.dy AS by
        FROM vc v, d WHERE v.cy + d.dy >= 0 AND v.cy + d.dy < 64)
      SELECT sp.point_id, sp.cell,
        CASE WHEN sp.s0 = 'val' THEN 'val'
             WHEN b.bx IS NOT NULL THEN 'excluded'
             ELSE 'train' END AS split
      FROM sp LEFT JOIN buf b ON b.bx = sp.cx AND b.by = sp.cy""")),

    // §2.8 XYZ tile assignment + quadkey at z=8 (GetTileIndices + Bing digits)
    ("q21_tile_assign", (s: SparkSession, dir: String) => {
      Fixtures.pointsFromOrders(s, dir)
        .withColumn("xy", tile_xy(col("lon"), col("lat"), 8))
        .select(col("point_id"), col("xy")(0).as("tx"), col("xy")(1).as("ty"),
          quadkey(lit(8), col("xy")(0).cast("int"), col("xy")(1).cast("int")).as("qk"))
    }, Some(s"""
      WITH $PtsCte,
      m AS (
        SELECT point_id, (lon * $MercC) AS mx, ${mercY("lat")} AS my FROM pts),
      txy AS (
        SELECT point_id,
          CAST(least(greatest(floor((((mx - $OriginX) / ${spanZ("8")}) + 0.001)), 0.0), 255.0) AS BIGINT) AS tx,
          CAST(least(greatest(floor(((($OriginY - my) / ${spanZ("8")}) + 0.001)), 0.0), 255.0) AS BIGINT) AS ty
        FROM m)
      SELECT point_id, tx, ty, ${quadkeySql("tx", "ty", 8)} AS qk FROM txy""")),

    // §2.3 the PIP join: cell equi-join + exact even-odd refine
    ("q22_pip_join", (s: SparkSession, dir: String) => {
      val pts = Fixtures.pointsFromOrders(s, dir).select("point_id", "lon", "lat")
      val regions = Fixtures.regionBoxes(s, dir)
      SpatialJoin.join(pts, regions, st_contains_point(col("wkb"), col("lon"), col("lat")))
        .select(col("point_id"), col("region_id"))
    }, Some(s"""
      WITH $PtsCte
      $RegionThetaSql""")),

    // §2.8 footprint: gt/w/h → geo envelope (4326 branch, oracle-checkable)
    ("q23_footprint_env", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326)
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
        .select(col("key"), col("env")(0).as("minx"), col("env")(1).as("miny"),
          col("env")(2).as("maxx"), col("env")(3).as("maxy"))
    }, Some(s"""
      WITH $ImgCte
      SELECT key, minx, miny, maxx, maxy FROM env""")),

    // §2.8 transformers → georeferencing integration: each image's affine
    // gt re-fitted PER ROW from its own 4 corner GCPs (gcp_to_gt, the
    // GDALGCPsToGeoTransform ingest shape) and fed straight into the
    // footprint operator. Corner targets are exactly affine, so the LSQ
    // fit recovers the true gt to ~1e-12 and round(env·1e6) matches the
    // closed-form env: the fixture's 10⁻³-degree coordinate grid puts
    // every env·1e6 value ~500 units from a rounding boundary.
    ("q100_gcp_footprint", (s: SparkSession, dir: String) => {
      def geoAt(px: org.apache.spark.sql.Column, py: org.apache.spark.sql.Column, xAxis: Boolean) =
        if (xAxis) col("gt")(0) + px * col("gt")(1) + py * col("gt")(2)
        else col("gt")(3) + px * col("gt")(4) + py * col("gt")(5)
      val wD = col("w").cast("double"); val hD = col("h").cast("double")
      Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326)
        .withColumn("pxs", array(lit(0.0), wD, lit(0.0), wD))
        .withColumn("pys", array(lit(0.0), lit(0.0), hD, hD))
        .withColumn("gxs", array(
          geoAt(lit(0.0), lit(0.0), xAxis = true), geoAt(wD, lit(0.0), xAxis = true),
          geoAt(lit(0.0), hD, xAxis = true), geoAt(wD, hD, xAxis = true)))
        .withColumn("gys", array(
          geoAt(lit(0.0), lit(0.0), xAxis = false), geoAt(wD, lit(0.0), xAxis = false),
          geoAt(lit(0.0), hD, xAxis = false), geoAt(wD, hD, xAxis = false)))
        .withColumn("gt2", gcp_to_gt(col("pxs"), col("pys"), col("gxs"), col("gys")))
        .withColumn("env", footprint(col("gt2"), col("w"), col("h"), col("srid")))
        .select(col("key"),
          round(col("env")(0) * 1000000.0).cast("bigint").as("minx_q"),
          round(col("env")(1) * 1000000.0).cast("bigint").as("miny_q"),
          round(col("env")(2) * 1000000.0).cast("bigint").as("maxx_q"),
          round(col("env")(3) * 1000000.0).cast("bigint").as("maxy_q"))
    }, Some(s"""
      WITH $ImgCte
      SELECT key,
        CAST(round(minx * 1000000.0) AS BIGINT) AS minx_q,
        CAST(round(miny * 1000000.0) AS BIGINT) AS miny_q,
        CAST(round(maxx * 1000000.0) AS BIGINT) AS maxx_q,
        CAST(round(maxy * 1000000.0) AS BIGINT) AS maxy_q
      FROM env""")),

    // §2.7 CRS transform 4326→3857 (floor-quantized transcendental output)
    ("q24_crs_3857", (s: SparkSession, dir: String) => {
      Fixtures.pointsFromOrders(s, dir)
        .withColumn("xy", merc_xy(col("lon"), col("lat")))
        .select(col("point_id"),
          floor(col("xy")(0)).cast("bigint").as("mxf"),
          floor(col("xy")(1)).cast("bigint").as("myf"))
    }, Some(s"""
      WITH $PtsCte
      SELECT point_id,
        CAST(floor(lon * $MercC) AS BIGINT) AS mxf,
        CAST(floor(${mercY("lat")}) AS BIGINT) AS myf
      FROM pts""")),

    // §2.3 exact kNN via cell-ring expansion (matches brute force bit-for-bit)
    ("q25_knn", (s: SparkSession, dir: String) => {
      val pts = Fixtures.pointsFromOrders(s, dir)
        .select(col("point_id").as("p_id"), col("lon").as("p_lon"), col("lat").as("p_lat"))
      val targets = Fixtures.targetsFromRegions(s, dir)
      Knn.knnJoin(targets, pts, k = 5, level = 6)
    }, Some(s"""
      WITH $PtsCte,
      tgt AS (
        SELECT CAST(r_regionkey AS BIGINT) AS t_id,
               ((((r_regionkey * 67) % 360) - 180) + 0.5) AS t_lon,
               ((((r_regionkey * 43) % 160) - 80) + 0.5) AS t_lat
        FROM region),
      c AS (
        SELECT t.t_id, p.point_id AS p_id,
               (((p.lon - t.t_lon) * (p.lon - t.t_lon)) + ((p.lat - t.t_lat) * (p.lat - t.t_lat))) AS dist2
        FROM tgt t, pts p)
      SELECT t_id, p_id, dist2, rank FROM (
        SELECT t_id, p_id, dist2,
               CAST(row_number() OVER (PARTITION BY t_id ORDER BY dist2, p_id) AS INT) AS rank
        FROM c) WHERE rank <= 5""")),

    // §2.4 grid data metrics: spatial binning aggregation
    ("q26_grid_metrics", (s: SparkSession, dir: String) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(
          ((((col("o_orderkey") * 9973) % 360000) / 1000.0) - 180.0).as("lon"),
          ((((col("o_orderkey") * 7919) % 170000) / 1000.0) - 85.0).as("lat"),
          col("o_totalprice"))
        .groupBy(floor(col("lon") / 10.0).cast("int").as("zone_x"),
          floor(col("lat") / 10.0).cast("int").as("zone_y"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("sum_price_c"))
    }, Some(s"""
      WITH $PtsCte
      SELECT CAST(floor(lon / 10.0) AS INT) AS zone_x,
             CAST(floor(lat / 10.0) AS INT) AS zone_y,
             count(*) AS cnt,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
      FROM pts GROUP BY 1, 2""")),

    // §2.4 grid interpolation (gdalgrid metrics over cell-binned candidate
    // fetch): nearest / invdist / invdistnn / moving-average, quantized
    // integer weights so the oracle is exact
    ("q70_grid_nearest", (s: SparkSession, dir: String) => {
      Grid.nearest(Fixtures.nodesFromSuppliers(s, dir), Fixtures.valuedPointsFromOrders(s, dir),
        radius = 5.0)
        .select(col("t_id"), col("p_id"), col("value_i"), col("dist2"))
    }, Some(s"""
      WITH $GridCte
      SELECT t_id, p_id, value_i, dist2 FROM (
        SELECT t_id, p_id, value_i, dist2,
               row_number() OVER (PARTITION BY t_id ORDER BY dist2, p_id) AS rn
        FROM cand) WHERE rn = 1""")),

    ("q71_grid_invdist", (s: SparkSession, dir: String) => {
      Grid.invdist(Fixtures.nodesFromSuppliers(s, dir), Fixtures.valuedPointsFromOrders(s, dir),
        radius = 5.0)
    }, Some(s"""
      WITH $GridCte
      SELECT t_id,
        CAST(sum(wq * value_i) AS BIGINT) AS num,
        CAST(sum(wq) AS BIGINT) AS den,
        count(*) AS n_pts,
        (CAST(CAST(sum(wq * value_i) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(wq) AS BIGINT) AS DOUBLE)) AS est
      FROM (SELECT t_id, value_i,
              CAST(least(round(1000000.0 / dist2), 1000000000000.0) AS BIGINT) AS wq FROM cand)
      GROUP BY t_id""")),

    ("q72_grid_moving_avg", (s: SparkSession, dir: String) => {
      Grid.movingAverage(Fixtures.nodesFromSuppliers(s, dir), Fixtures.valuedPointsFromOrders(s, dir),
        radius = 5.0)
    }, Some(s"""
      WITH $GridCte
      SELECT t_id, CAST(sum(value_i) AS BIGINT) AS sum_v, count(*) AS n_pts,
             (CAST(CAST(sum(value_i) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS avg_v
      FROM cand GROUP BY t_id""")),

    ("q73_grid_invdistnn", (s: SparkSession, dir: String) => {
      Grid.invdistnn(Fixtures.nodesFromSuppliers(s, dir), Fixtures.valuedPointsFromOrders(s, dir),
        radius = 5.0, maxPoints = 8)
    }, Some(s"""
      WITH $GridCte,
      nn AS (SELECT t_id, p_id, value_i, dist2,
                    row_number() OVER (PARTITION BY t_id ORDER BY dist2, p_id) AS rn
             FROM cand)
      SELECT t_id,
        CAST(sum(wq * value_i) AS BIGINT) AS num,
        CAST(sum(wq) AS BIGINT) AS den,
        count(*) AS n_pts,
        (CAST(CAST(sum(wq * value_i) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(wq) AS BIGINT) AS DOUBLE)) AS est
      FROM (SELECT t_id, value_i,
              CAST(least(round(1000000.0 / dist2), 1000000000000.0) AS BIGINT) AS wq
            FROM nn WHERE rn <= 8)
      GROUP BY t_id""")),

    // §2.4 GGA_Linear (alg/delaunay.c): Delaunay triangulation +
    // barycentric plane interpolation. The point field is an exact plane
    // over a hull of exactly [0,24]² with all targets interior, so
    // est ≡ 3·t_lon + 7·t_lat + 10 for EVERY valid triangulation; the
    // oracle evaluates the plane. Quantized ×256: true values sit ≥ 1/50
    // from rounding boundaries vs ~1e-12 cross-engine drift.
    ("q88_grid_linear", (s: SparkSession, dir: String) => {
      Grid.linear(Fixtures.planeTargets(s, dir), Fixtures.planeGridPoints(s, dir))
        .select(col("t_id"), round(col("est") * 256.0).cast("bigint").as("est_q"))
    }, Some(gridLinearPlaneOracle)),

    // §2.4 GGA_Linear, DISTRIBUTED path (per-tile Delaunay with ghost
    // margins + circumcircle locality certificate — Grid.linearTiled):
    // the same plane fixture and oracle as q88, so the tiled path must
    // reproduce the broadcast path's results exactly (GridTiledSpec
    // additionally pins bit-identity on a non-planar field).
    ("q103_grid_linear_tiled", (s: SparkSession, dir: String) => {
      Grid.linearTiled(Fixtures.planeTargets(s, dir), Fixtures.planeGridPoints(s, dir),
          tileDeg = 8.0, marginDeg = 4.0)
        .select(col("t_id"), round(col("est") * 256.0).cast("bigint").as("est_q"))
    }, Some(gridLinearPlaneOracle)),

    // §2.4 GGA_Metric{Minimum,Maximum,Range,Count,AverageDistance}
    // (gdal_alg.h:402-416): fused per-node value metrics + mean node→point
    // distance (floor(√dist2·1e6) int-quantized; sqrt is IEEE-exact)
    ("q90_grid_data_metrics", (s: SparkSession, dir: String) => {
      Grid.dataMetrics(Fixtures.nodesFromSuppliers(s, dir),
        Fixtures.valuedPointsFromOrders(s, dir), radius = 5.0)
    }, Some(s"""
      WITH $GridCte
      SELECT t_id,
        CAST(min(value_i) AS BIGINT) AS min_v,
        CAST(max(value_i) AS BIGINT) AS max_v,
        CAST(max(value_i) - min(value_i) AS BIGINT) AS range_v,
        count(*) AS n_pts,
        CAST(sum(CAST(floor(sqrt(dist2) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_dist_q,
        ((CAST(CAST(sum(CAST(floor(sqrt(dist2) * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
          / 1000000.0) / CAST(count(*) AS DOUBLE)) AS avg_dist
      FROM cand GROUP BY t_id""")),

    // §2.4 GGA_MetricAverageDistancePts: mean pairwise distance between
    // the points inside each node's radius (self-join on the node id —
    // O(occupancy²) per node, never corpus-quadratic)
    ("q91_grid_avg_dist_pts", (s: SparkSession, dir: String) => {
      Grid.averageDistancePts(Fixtures.nodesFromSuppliers(s, dir),
        Fixtures.valuedPointsFromOrders(s, dir), radius = 5.0)
    }, Some(s"""
      WITH $GridCte,
      candp AS (
        SELECT c.t_id, c.p_id, p.p_lon, p.p_lat
        FROM cand c JOIN gpts p ON c.p_id = p.p_id),
      pairs AS (
        SELECT a.t_id,
          (((a.p_lon - b.p_lon) * (a.p_lon - b.p_lon))
           + ((a.p_lat - b.p_lat) * (a.p_lat - b.p_lat))) AS dist2
        FROM candp a JOIN candp b
          ON a.t_id = b.t_id AND a.p_id < b.p_id)
      SELECT t_id, count(*) AS n_pairs,
        CAST(sum(CAST(floor(sqrt(dist2) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_dist_q,
        ((CAST(CAST(sum(CAST(floor(sqrt(dist2) * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
          / 1000000.0) / CAST(count(*) AS DOUBLE)) AS avg_dist_pts
      FROM pairs GROUP BY t_id""")),

    // §2.8 pansharpen — weighted-Brovey kernel (gdalpansharpen.cpp
    // behavior) value-checked end-to-end on the lossless 3-band subset:
    // the synthetic pan band, 2× ms downsample, quarter-offset bilinear
    // upsample (dyadic-exact weights), 1/3-weight pseudo-pan, ratio
    // multiply, and GDAL checksum are ALL mirrored op-for-op in SQL —
    // every float op is either dyadic-exact or an identically-ordered
    // exactly-rounded IEEE op, so checksum and mean compare bit-identically
    // (q81 keeps the palette/dither half golden-only: median-cut recursion
    // is not SQL-expressible).
    ("q97_pansharpen", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("key") % 2 === 1 && col("fmt") =!= "jpeg")
        .withColumn("ps", pansharpen_profile(col("bytes"), col("fmt"), col("w"), col("h")))
        .filter(col("ps").isNotNull)
        .select(col("key"),
          col("ps.checksums")(0).as("sharp_cks_b0"),
          col("ps.mean").as("sharp_mean"))
    }, Some(s"""
      WITH $pansharpenSharpCte
      SELECT k AS key,
        CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[((y * sz + x) % 11) + 1]) % 65536 AS INT)
          AS sharp_cks_b0,
        (CAST(3 * sum(v) AS DOUBLE) / ((CAST(3 AS DOUBLE) * sz) * sz)) AS sharp_mean
      FROM sharp GROUP BY k, sz""")),

    // §2.8 viewshed (alg/viewshed/viewshed_executor.cpp Wang propagation,
    // Normal/Edge defaults): flat DEM + square wall ring at Chebyshev
    // distance dw ⇒ every cell's visibility is combinatorially
    // Chebyshev(cell) <= dw, with STRUCTURAL float margins (interior
    // minZ = −2j/(j−1) vs adjusted −2 ⇒ margin ≥ 2/32; behind-ring
    // minZ ≥ (wallH−2)·j/(j−1) ≥ 20 vs −2) that ~1e-12 drift cannot
    // flip — so the full 33×33 visibility raster has a pure-integer
    // oracle. ViewshedSpec separately pins the propagation against an
    // exact-rational 1-D rule on arbitrary DEMs.
    ("q98_viewshed", (s: SparkSession, dir: String) => {
      Fixtures.demsFromNation(s, dir)
        .withColumn("vis", viewshed_vis(col("bytes"), lit("raw"), col("w"), col("h"),
          lit(16), lit(16), lit(2.0), lit(0.0)))
        .select(col("dem_id"), posexplode(col("vis")).as(Seq("idx", "v")))
        .select(col("dem_id"),
          (col("idx") % 33).as("x"), (col("idx") / 33).cast("int").as("y"), col("v"))
    }, Some("""
      WITH g1 AS (SELECT CAST(n_nationkey AS BIGINT) AS dem_id,
                         3 + (n_nationkey % 5) AS dw,
                         unnest(generate_series(0, 32)) AS y
                  FROM nation),
      g2 AS (SELECT dem_id, dw, y, unnest(generate_series(0, 32)) AS x FROM g1)
      SELECT dem_id, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
        CASE WHEN greatest(abs(x - 16), abs(y - 16)) <= dw THEN 255 ELSE 0 END AS v
      FROM g2""")),

    // §2.8 point-to-point line of sight (alg/los.cpp
    // GDALIsLineOfSightVisible): endpoint pre-checks (a blocked B is
    // reported over an earlier walk hit — mirrored in the oracle's CASE
    // order), then a Bresenham walk with Euclidean-ratio z lerp. The
    // fixture makes blocking purely combinatorial: terrain is 0 except
    // the wall ring (height ≥ 22) and every sight z ∈ [1, 19], so a walk
    // cell blocks iff it lies ON the ring — the oracle replays the exact
    // integer Bresenham recurrence (balance init 2·minor − major; step
    // minor iff balance ≥ 0 before adding 2·minor) in a recursive CTE
    // and never touches a float. 8 sight lines per DEM.
    ("q123_los", (s: SparkSession, dir: String) => {
      Fixtures.demsFromNation(s, dir)
        .select(col("dem_id"), col("bytes"), col("w"), col("h"),
          explode(sequence(lit(0), lit(7))).as("j"))
        .withColumn("r", los_visible(col("bytes"), lit("raw"), col("w"), col("h"),
          ((col("dem_id") + col("j") * 13) % 33).cast("int"),
          ((col("dem_id") * 9 + col("j") * 5) % 33).cast("int"),
          (lit(1) + col("dem_id") % 15).cast("double"),
          ((col("dem_id") * 5 + col("j") * 7) % 33).cast("int"),
          ((col("dem_id") * 3 + col("j") * 11) % 33).cast("int"),
          (lit(1) + (col("dem_id") * 7 + col("j")) % 19).cast("double")))
        .select(col("dem_id"), col("j").cast("int").as("j"),
          col("r.visible").as("visible"), col("r.ix").as("ix"), col("r.iy").as("iy"))
    }, Some("""
      WITH RECURSIVE lines AS (
        SELECT key, j,
          CAST((key + j*13) % 33 AS INT) AS xa, CAST((key*9 + j*5) % 33 AS INT) AS ya,
          CAST((key*5 + j*7) % 33 AS INT) AS xb, CAST((key*3 + j*11) % 33 AS INT) AS yb,
          3 + (key % 5) AS dw
        FROM (SELECT CAST(n_nationkey AS BIGINT) AS key,
                     unnest(generate_series(0, 7)) AS j FROM nation)),
      walk AS (
        SELECT key, j, xa, ya, xb, yb, dw, 0 AS step, xa AS x, ya AS y,
          CASE WHEN abs(xb-xa) >= abs(yb-ya)
               THEN 2*abs(yb-ya) - abs(xb-xa)
               ELSE 2*abs(xb-xa) - abs(yb-ya) END AS bal
        FROM lines
        UNION ALL
        SELECT key, j, xa, ya, xb, yb, dw, step + 1,
          CASE WHEN abs(xb-xa) >= abs(yb-ya)
               THEN x + CASE WHEN xb >= xa THEN 1 ELSE -1 END
               ELSE CASE WHEN bal >= 0
                         THEN x + CASE WHEN xb >= xa THEN 1 ELSE -1 END
                         ELSE x END END,
          CASE WHEN abs(xb-xa) >= abs(yb-ya)
               THEN CASE WHEN bal >= 0
                         THEN y + CASE WHEN yb >= ya THEN 1 ELSE -1 END
                         ELSE y END
               ELSE y + CASE WHEN yb >= ya THEN 1 ELSE -1 END END,
          CASE WHEN abs(xb-xa) >= abs(yb-ya)
               THEN (CASE WHEN bal >= 0 THEN bal - 2*abs(xb-xa) ELSE bal END) + 2*abs(yb-ya)
               ELSE (CASE WHEN bal >= 0 THEN bal - 2*abs(yb-ya) ELSE bal END) + 2*abs(xb-xa) END
        FROM walk
        WHERE CASE WHEN abs(xb-xa) >= abs(yb-ya) THEN x <> xb ELSE y <> yb END),
      hit AS (
        SELECT key, j, min(step) AS s FROM walk
        WHERE greatest(abs(x - 16), abs(y - 16)) = dw
        GROUP BY key, j),
      fh AS (
        SELECT w.key, w.j, w.x AS hx, w.y AS hy
        FROM walk w JOIN hit h ON w.key = h.key AND w.j = h.j AND w.step = h.s)
      SELECT l.key AS dem_id, CAST(l.j AS INT) AS j,
        CAST(CASE WHEN ab OR bb OR fh.key IS NOT NULL THEN 0 ELSE 1 END AS INT) AS visible,
        CAST(CASE WHEN ab THEN l.xa WHEN bb THEN l.xb
                  WHEN fh.key IS NOT NULL THEN fh.hx ELSE -1 END AS INT) AS ix,
        CAST(CASE WHEN ab THEN l.ya WHEN bb THEN l.yb
                  WHEN fh.key IS NOT NULL THEN fh.hy ELSE -1 END AS INT) AS iy
      FROM (SELECT *, greatest(abs(xa-16), abs(ya-16)) = dw AS ab,
                      greatest(abs(xb-16), abs(yb-16)) = dw AS bb FROM lines) l
      LEFT JOIN fh ON l.key = fh.key AND l.j = fh.j""")),

    // §2.8 transformers — GCP polynomial (alg/gdal_crs.cpp): the fixture's
    // geo targets are an EXACT order-2 map with 2⁻⁵-grid coefficients, so
    // the unique least-squares fit recovers it to ~1e-12 and transformed
    // integer points land on the 2⁻⁵ grid — round(·×256) is exact-int SQL
    // (drift ~1e-7 vs quantum 0.5). Fit on the driver (25 GCPs), apply as
    // a codegen'd map over the point layer — no shuffle anywhere.
    ("q93_gcp_poly", (s: SparkSession, dir: String) => {
      val fit = Georef.fitGcpPoly(Fixtures.gcpQuadFromNation(s, dir), order = 2)
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("id"),
          (col("o_orderkey") % 25).cast("double").as("ptx"),
          ((col("o_orderkey") * 7) % 25).cast("double").as("pty"))
        .withColumn("t", Georef.gcpPolyTransform(fit.fwd, col("ptx"), col("pty")))
        .select(col("id"),
          round(col("t")(0) * 256.0).cast("bigint").as("gx_q"),
          round(col("t")(1) * 256.0).cast("bigint").as("gy_q"))
    }, Some("""
      SELECT o_orderkey AS id,
        CAST((64 + 96*ptx + 160*pty + 2*ptx*ptx + 4*ptx*pty + 2*pty*pty) * 8 AS BIGINT) AS gx_q,
        CAST((-96 + 64*ptx - 32*pty + ptx*ptx - 2*ptx*pty + pty*pty) * 8 AS BIGINT) AS gy_q
      FROM (SELECT o_orderkey, o_orderkey % 25 AS ptx, (o_orderkey * 7) % 25 AS pty
            FROM orders)""")),

    // §2.8 transformers — thin plate spline (alg/thinplatespline.cpp):
    // exactly-affine GCP targets force zero RBF weights, so the fitted
    // spline IS the affine map everywhere (and its inverse fit the inverse
    // affine) — closed-form SQL at any probe point. The roundtrip columns
    // exercise the inverse direction: inv(fwd(p)) = p to solver precision,
    // so round(·×256) returns the exact integer inputs.
    ("q94_tps_transform", (s: SparkSession, dir: String) => {
      val fit = Georef.fitTps(Fixtures.gcpAffineFromNation(s, dir))
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").cast("bigint").as("id"),
          (col("s_suppkey") % 31).cast("double").as("ptx"),
          ((col("s_suppkey") * 3) % 31).cast("double").as("pty"))
        .withColumn("t", Georef.tpsTransform(fit.fwd, col("ptx"), col("pty")))
        .withColumn("r", Georef.tpsTransform(fit.inv, col("t")(0), col("t")(1)))
        .select(col("id"),
          round(col("t")(0) * 256.0).cast("bigint").as("gx_q"),
          round(col("t")(1) * 256.0).cast("bigint").as("gy_q"),
          round(col("r")(0) * 256.0).cast("bigint").as("rx_q"),
          round(col("r")(1) * 256.0).cast("bigint").as("ry_q"))
    }, Some("""
      SELECT CAST(s_suppkey AS BIGINT) AS id,
        CAST(384 + 192*ptx + 64*pty AS BIGINT) AS gx_q,
        CAST(-512 + 128*ptx + 320*pty AS BIGINT) AS gy_q,
        CAST(256*ptx AS BIGINT) AS rx_q,
        CAST(256*pty AS BIGINT) AS ry_q
      FROM (SELECT s_suppkey, s_suppkey % 31 AS ptx, (s_suppkey * 3) % 31 AS pty
            FROM supplier)""")),

    // §2.8 transformers — RPC forward (alg/gdal_rpc.cpp): every model
    // constant is an exact binary rational (k/512), so the 20-term
    // rational evaluation is a fixed sequence of exactly-rounded IEEE ops;
    // the oracle mirrors the op order term-for-term (incl. the even/odd
    // split summation of RPCEvaluate) and compares RAW DOUBLES
    // bit-identically.
    ("q95_rpc_forward", (s: SparkSession, dir: String) => {
      val m = Fixtures.benchRpc
      Fixtures.rpcPointsFromOrders(s, dir)
        .withColumn("t", Georef.rpcForward(m, col("lon"), col("lat"), col("h")))
        .select(col("id"), col("t")(0).as("samp"), col("t")(1).as("line"))
    }, Some(rpcForwardOracle)),

    // §2.8 transformers — homography (alg/gdal_homography.cpp): the
    // fixture's geo targets are an EXACT projective map with dyadic
    // coefficients (see Fixtures.gcpHomographyFromNation), so the rank-8
    // least-squares fit recovers it to ~1e-12. The projective division
    // makes raw outputs irrational, so the query re-multiplies by the
    // TRUE weight w = 1 + x/64 + y/128: t·w·256 = numerator·256 — an
    // exact integer (drift ~5e-9 vs quantum 0.5). The roundtrip columns
    // drive the exact adjoint inverse: round(inv(fwd(p))·256) = 256·p.
    ("q122_homography", (s: SparkSession, dir: String) => {
      val fit = Georef.fitHomography(Fixtures.gcpHomographyFromNation(s, dir))
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("id"),
          (col("o_orderkey") % 25).cast("double").as("ptx"),
          ((col("o_orderkey") * 11) % 25).cast("double").as("pty"))
        .withColumn("t", Georef.homographyTransform(fit.fwd, col("ptx"), col("pty")))
        .withColumn("r", Georef.homographyTransform(fit.inv, col("t")(0), col("t")(1)))
        .withColumn("tw", lit(1.0) + col("ptx") / 64.0 + col("pty") / 128.0)
        .select(col("id"),
          round(col("t")(0) * col("tw") * 256.0).cast("bigint").as("gxw_q"),
          round(col("t")(1) * col("tw") * 256.0).cast("bigint").as("gyw_q"),
          round(col("r")(0) * 256.0).cast("bigint").as("rx_q"),
          round(col("r")(1) * 256.0).cast("bigint").as("ry_q"))
    }, Some("""
      SELECT o_orderkey AS id,
        CAST(512 + 128*ptx + 64*pty AS BIGINT) AS gxw_q,
        CAST(-768 + 32*ptx + 192*pty AS BIGINT) AS gyw_q,
        CAST(256*ptx AS BIGINT) AS rx_q,
        CAST(256*pty AS BIGINT) AS ry_q
      FROM (SELECT o_orderkey, o_orderkey % 25 AS ptx, (o_orderkey * 11) % 25 AS pty
            FROM orders)""")),

    // §2.8 transformers — geolocation arrays (alg/gdalgeoloc.cpp): the
    // fixture's 33×33 lon/lat arrays sample an exact affine with dyadic
    // coefficients, so bilinear interpolation IS the affine map —
    // X·256 = 480 + 32·pp + 16·pl and Y·256 = −1352 + 16·pp + 64·pl at
    // raster point (pp, pl) through PIXEL_OFFSET/STEP = (0.5, 2) and
    // LINE_OFFSET/STEP = (1, 2) — and the exact inverse-bilinear cell
    // solve roundtrips to the integer inputs (·512 quantization, drift
    // ~1e-13 vs quantum 0.5).
    ("q124_geoloc", (s: SparkSession, dir: String) => {
      val g = Fixtures.benchGeoLoc
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").cast("bigint").as("id"),
          (lit(1) + col("s_suppkey") % 31).cast("double").as("pp"),
          (lit(1) + (col("s_suppkey") * 7) % 31).cast("double").as("pl"))
        .withColumn("t", Georef.geolocForward(g, col("pp"), col("pl")))
        .withColumn("r", Georef.geolocInverse(g, col("t")(0), col("t")(1)))
        .select(col("id"),
          round(col("t")(0) * 256.0).cast("bigint").as("gx_q"),
          round(col("t")(1) * 256.0).cast("bigint").as("gy_q"),
          round(col("r")(0) * 512.0).cast("bigint").as("rx_q"),
          round(col("r")(1) * 512.0).cast("bigint").as("ry_q"))
    }, Some("""
      SELECT CAST(s_suppkey AS BIGINT) AS id,
        CAST(480 + 32*pp + 16*pl AS BIGINT) AS gx_q,
        CAST(-1352 + 16*pp + 64*pl AS BIGINT) AS gy_q,
        CAST(512*pp AS BIGINT) AS rx_q,
        CAST(512*pl AS BIGINT) AS ry_q
      FROM (SELECT s_suppkey, 1 + (s_suppkey % 31) AS pp, 1 + ((s_suppkey * 7) % 31) AS pl
            FROM supplier)""")),

    // §2.8 transformers — GCP refinement (`gdalwarp -refine_gcps`;
    // GDALCreateGCPRefineTransformer, alg/gdal_crs.cpp:365 →
    // remove_outliers:1092): the fixture plants four outliers offset
    // (+7, −5) against an exact dyadic affine (Fixtures.
    // gcpOutlierFromNation) — refinement at tolerance 1 drops EXACTLY
    // those four (every planted residual stays above every inlier
    // residual at each iteration — deterministic for this geometry),
    // after which the surviving fit IS the affine: probe points quantize
    // to exact integers and the roundtrip through the refined inverse
    // returns 256·p. The oracle re-derives the dropped set from the
    // fixture's planting rule (n_nationkey % 7 = 3), not from literals.
    ("q143_gcp_refine", (s: SparkSession, dir: String) => {
      val r = Georef.refineGcpPoly(Fixtures.gcpOutlierFromNation(s, dir),
        order = 1, tolerance = 1.0)
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("id"),
          (col("o_orderkey") % 25).cast("double").as("ptx"),
          ((col("o_orderkey") * 13) % 25).cast("double").as("pty"))
        .withColumn("t", Georef.gcpPolyTransform(r.both.fwd, col("ptx"), col("pty")))
        .withColumn("rt", Georef.gcpPolyTransform(r.both.inv, col("t")(0), col("t")(1)))
        .select(col("id"),
          round(col("t")(0) * 256.0).cast("bigint").as("gx_q"),
          round(col("t")(1) * 256.0).cast("bigint").as("gy_q"),
          round(col("rt")(0) * 256.0).cast("bigint").as("rx_q"),
          round(col("rt")(1) * 256.0).cast("bigint").as("ry_q"),
          lit(r.keptIds.length).cast("int").as("n_kept"),
          lit(r.droppedIds.sum).cast("bigint").as("dropped_id_sum"))
    }, Some("""
      SELECT o_orderkey AS id,
        CAST(384 + 192*ptx + 64*pty AS BIGINT) AS gx_q,
        CAST(-512 + 128*ptx + 320*pty AS BIGINT) AS gy_q,
        CAST(256*ptx AS BIGINT) AS rx_q,
        CAST(256*pty AS BIGINT) AS ry_q,
        (SELECT CAST(count(*) AS INT) FROM nation WHERE n_nationkey % 7 <> 3) AS n_kept,
        (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation WHERE n_nationkey % 7 = 3) AS dropped_id_sum
      FROM (SELECT o_orderkey, o_orderkey % 25 AS ptx, (o_orderkey * 13) % 25 AS pty
            FROM orders)""")),

    // §2.8 output sizing — GDALSuggestedWarpOutput2
    // (alg/gdaltransformer.cpp:342): per-row edge sampling, diagonal
    // pixel-size estimate, +0.5 size rounding, border fitting, north-up
    // gt assembly. The fixture's per-row transformers are dyadic affine
    // homographies with power-of-two square pixel sizes, so every stage
    // is exact: the diagonal estimate reproduces s bit-exactly
    // (sqrt(s²·K) = s·√K for s = 2^−m), sizes come out as the source
    // sizes, the border fit accepts ratio 0, and the gt/extent quantize
    // to closed-form integers.
    ("q126_suggested_output", (s: SparkSession, dir: String) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("id"),
          (lit(30) + col("o_orderkey") % 40).cast("int").as("sw"),
          (lit(25) + (col("o_orderkey") * 7) % 40).cast("int").as("sh"),
          (lit(0.5) / pow(lit(2.0), (col("o_orderkey") % 3).cast("double"))).as("ps"),
          ((col("o_orderkey") % 100) - 50 + 0.25).cast("double").as("g0"),
          (((col("o_orderkey") * 3) % 100) - 50 + 0.5).cast("double").as("g3"))
        .withColumn("r", suggest_warp_output(col("sw"), col("sh"),
          array(col("g0"), col("ps"), lit(0.0), col("g3"), lit(0.0), -col("ps"),
            lit(1.0), lit(0.0), lit(0.0))))
        .select(col("id"), col("r.px").as("px"), col("r.ln").as("ln"),
          round(col("r.gt")(0) * 256.0).cast("bigint").as("g0_q"),
          round(col("r.gt")(1) * 256.0).cast("bigint").as("ps_q"),
          round(col("r.gt")(3) * 256.0).cast("bigint").as("g3_q"),
          round(col("r.extent")(1) * 256.0).cast("bigint").as("miny_q"),
          round(col("r.extent")(2) * 256.0).cast("bigint").as("maxx_q"))
    }, Some("""
      SELECT id, CAST(sw AS INT) AS px, CAST(sh AS INT) AS ln,
        CAST(256*(k100 - 50) + 64 AS BIGINT) AS g0_q,
        CAST(ps256 AS BIGINT) AS ps_q,
        CAST(256*(k300 - 50) + 128 AS BIGINT) AS g3_q,
        CAST(256*(k300 - 50) + 128 - ps256*sh AS BIGINT) AS miny_q,
        CAST(256*(k100 - 50) + 64 + ps256*sw AS BIGINT) AS maxx_q
      FROM (SELECT o_orderkey AS id,
                   30 + o_orderkey % 40 AS sw, 25 + (o_orderkey*7) % 40 AS sh,
                   128 >> (o_orderkey % 3) AS ps256,
                   o_orderkey % 100 AS k100, (o_orderkey*3) % 100 AS k300
            FROM orders)""")),

    // SURF correlator (alg/gdal_simplesurf.cpp, gdal_octave.cpp,
    // gdalmatching.cpp): Fast-Hessian keypoints + 64-d Haar descriptors
    // per image (one per-row kernel each side), greedy sign-gated
    // ratio-test matching on the joined pair. The fixture translates an
    // identical interior scene by a known per-key shift, so extraction is
    // translation-equivariant (SimpleSurfSpec pins equivariance and the
    // per-key match sets) and the DISTINCT displacement set per pair is
    // exactly the known shift — a closed-form oracle that fails on any
    // missing, extra, or cross-blob match.
    ("q125_surf_match", (s: SparkSession, dir: String) => {
      Fixtures.surfScenesFromNation(s, dir)
        .withColumn("pa", surf_points(col("bytes_a"), lit("raw"), col("w"), col("h"),
          lit(1), lit(1), lit(0.001)))
        .withColumn("pb", surf_points(col("bytes_b"), lit("raw"), col("w"), col("h"),
          lit(1), lit(1), lit(0.001)))
        .select(col("key"), explode(surf_match(col("pa"), col("pb"), lit(1.0))).as("m"))
        .select(col("key"),
          (col("m.x2") - col("m.x1")).as("dx"), (col("m.y2") - col("m.y1")).as("dy"))
        .distinct()
    }, Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS key,
        CAST(3 + n_nationkey % 5 AS INT) AS dx,
        CAST(2 + (n_nationkey * 7) % 5 AS INT) AS dy
      FROM nation""")),

    // §2.8 warp density masks: per-image alpha carried through the warp's
    // density plane, blended by the commutative DensityMosaic rule
    // (v = round-half-up Σd·v/Σd, density = min(255, Σd)). Oracle: each
    // image's valid region on its z3 tile is a closed-form rectangle (the
    // q80 derivation minus the cutline), the near-sampled value inside is
    // the pattern at (floor(spx), floor(spy)), and the blend is exact
    // integer arithmetic — both GDAL checksums re-derived in SQL.
    ("q89_density_mosaic", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("key") % 10 === 0 && col("fmt") =!= "jpeg")
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
        .withColumn("tile", tile_cover(col("env"), 3, 3)(0))
        .withColumn("alpha", (col("key") % 200 + 55).cast("int"))
        .withColumn("buf", warp_tile_alpha(col("bytes"), col("fmt"), Tiling.meta9,
          col("tile"), lit("near"), col("alpha")))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_imgs"), mosaic_density_agg(col("buf")).as("m"))
        .select(col("tile"), col("n_imgs"),
          planes_checksums(col("m"))(0).as("cks_b0"),
          planes_checksums(col("m"))(3).as("cks_density"))
    }, Some {
      val MC = MercC
      val SP3 = spanZ("3")
      s"""
      WITH dimg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz,
          (CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499))) AS span,
          ((((p_partkey * 9973) % 350000) / 1000.0) - 180.0) AS lon0,
          ((((p_partkey * 7919) % 160000) / 1000.0) - 80.0) AS lat0,
          ((p_partkey % 200) + 55) AS alpha
        FROM part WHERE (p_partkey % 10) = 0 AND (p_partkey % 3) <> 2),
      dtl AS (
        SELECT *,
          CAST(least(greatest(floor(((((lon0 * $MC) - $OriginX) / $SP3) + 0.001)), 0.0), 7.0) AS BIGINT) AS tx,
          CAST(least(greatest(floor(((($OriginY - ${mercY("lat0")}) / $SP3) + 0.001)), 0.0), 7.0) AS BIGINT) AS ty
        FROM dimg),
      dgeo AS (
        SELECT key, sz, span, lon0, lat0, alpha, tx, ty,
          ($OriginX + (tx * $SP3)) AS tminx, ($OriginY - (ty * $SP3)) AS tmaxy,
          ($SP3 / 256.0) AS rt
        FROM dtl),
      drng AS (
        SELECT key, sz, span, lon0, lat0, alpha, tx, ty, tminx, tmaxy, rt,
          CAST(greatest(0.0,
            ceil(((((lon0 * $MC) - tminx) / rt) - 0.5))) AS BIGINT) AS xlo,
          CAST(least(255.0,
            ceil((((((lon0 + span) * $MC) - tminx) / rt) - 0.5)) - 1.0) AS BIGINT) AS xhi,
          CAST(greatest(0.0,
            ceil((((tmaxy - ${mercY("lat0")}) / rt) - 0.5))) AS BIGINT) AS ylo,
          CAST(least(255.0,
            ceil((((tmaxy - ${mercY("(lat0 - span)")}) / rt) - 0.5)) - 1.0) AS BIGINT) AS yhi
        FROM dgeo),
      drows AS (
        SELECT key, sz, span, lon0, lat0, alpha, tx, ty, tminx, tmaxy, rt, xlo, xhi,
               unnest(generate_series(ylo, yhi)) AS y
        FROM drng WHERE xlo <= xhi AND ylo <= yhi),
      drlat AS (
        SELECT *, CAST(floor(((lat0 -
            (((2.0 * atan(exp((tmaxy - ((CAST(y AS DOUBLE) + 0.5) * rt)) / 6378137.0)))
              - (pi() / 2.0)) * (180.0 / pi())))
          / (span / sz))) AS BIGINT) AS spy
        FROM drows),
      dpx AS (
        SELECT key, sz, span, lon0, alpha, tx, ty, tminx, rt, y, spy,
               unnest(generate_series(xlo, xhi)) AS x
        FROM drlat),
      dcont AS (
        SELECT tx, ty, y, x, alpha,
          ((((CAST(floor(((((tminx + ((CAST(x AS DOUBLE) + 0.5) * rt)) / $MC) - lon0)
              / (span / sz))) AS BIGINT) * 7) + (spy * 13)) + (key * 31)) % 256) AS v
        FROM dpx),
      dagg AS (
        SELECT tx, ty, y, x,
          CAST(sum(alpha * v) AS BIGINT) AS num, CAST(sum(alpha) AS BIGINT) AS den
        FROM dcont GROUP BY tx, ty, y, x),
      dblend AS (
        SELECT tx, ty, y, x,
          (((2 * num) + den) // (2 * den)) AS bv,
          least(CAST(255 AS BIGINT), den) AS dv
        FROM dagg),
      dck AS (
        SELECT tx, ty,
          CAST(sum(bv % ([7,11,13,17,19,23,29,31,37,41,43])[((((y * 256) + x) % 11) + 1)]) % 65536 AS INT) AS cks_b0,
          CAST(sum(dv % ([7,11,13,17,19,23,29,31,37,41,43])[((((y * 256) + x) % 11) + 1)]) % 65536 AS INT) AS cks_density
        FROM dblend GROUP BY tx, ty),
      dtiles AS (
        SELECT tx, ty, count(*) AS n_imgs FROM dtl GROUP BY tx, ty)
      SELECT ((CAST(3 AS BIGINT) << 58) | (t.tx << 29)) | t.ty AS tile,
        t.n_imgs,
        CAST(coalesce(c.cks_b0, 0) AS INT) AS cks_b0,
        CAST(coalesce(c.cks_density, 0) AS INT) AS cks_density
      FROM dtiles t LEFT JOIN dck c ON t.tx = c.tx AND t.ty = c.ty"""
    }),

    // §2.8 tile pyramid assignment counts across zooms 0..6
    ("q27_tile_pyramid_counts", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326)
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
        .withColumn("tile", explode(tile_cover(col("env"), 0, 6)))
        .groupBy(tile_z(col("tile")).as("z"))
        .agg(countDistinct(col("key")).as("n_images"), count(lit(1)).as("n_tiles"))
    }, Some(s"""
      WITH $ImgCte,
      zs AS (SELECT unnest(generate_series(0, 6)) AS z),
      m AS (
        SELECT e.key, zs.z,
          (e.minx * $MercC) AS mx0, (e.maxx * $MercC) AS mx1,
          ${mercY("e.miny")} AS my0, ${mercY("e.maxy")} AS my1
        FROM env e, zs),
      t AS (
        SELECT key, z,
          CAST(least(greatest(floor((((mx0 - $OriginX) / ${spanZ("z")}) + 0.001)), 0.0), CAST((1 << z) - 1 AS DOUBLE)) AS BIGINT) AS tx0,
          CAST(least(greatest(floor((((mx1 - $OriginX) / ${spanZ("z")}) + 0.001)), 0.0), CAST((1 << z) - 1 AS DOUBLE)) AS BIGINT) AS tx1,
          CAST(least(greatest(floor(((($OriginY - my1) / ${spanZ("z")}) + 0.001)), 0.0), CAST((1 << z) - 1 AS DOUBLE)) AS BIGINT) AS ty0,
          CAST(least(greatest(floor(((($OriginY - my0) / ${spanZ("z")}) + 0.001)), 0.0), CAST((1 << z) - 1 AS DOUBLE)) AS BIGINT) AS ty1
        FROM m)
      SELECT CAST(z AS INT) AS z, count(*) AS n_images,
             CAST(sum(((tx1 - tx0) + 1) * ((ty1 - ty0) + 1)) AS BIGINT) AS n_tiles
      FROM t GROUP BY z""")),

    // §2.8 rasterize: scanline burn vs closed-form box pixel count
    ("q28_rasterize_count", (s: SparkSession, dir: String) => {
      val meta = array(lit(512.0), lit(256.0), lit(4326.0),
        lit(-180.0), lit(0.703125), lit(0.0), lit(90.0), lit(0.0), lit(-0.703125))
      Fixtures.regionBoxes(s, dir)
        .select(col("region_id"), rasterize_count(col("wkb"), meta).as("burned"))
    }, Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS region_id, CAST((nx * ny) AS INT) AS burned FROM (
        SELECT n_nationkey,
          (ceil((((((((n_nationkey % 5) * 72.0) - 180.0) + 0.0005) + 57.6) + 180.0) / 0.703125) - 0.5)
           - ceil(((((((n_nationkey % 5) * 72.0) - 180.0) + 0.0005) + 180.0) / 0.703125) - 0.5)) AS nx,
          (ceil(((90.0 - ((((((n_nationkey - (n_nationkey % 5)) / 5) * 34.0) - 85.0) + 0.0005))) / 0.703125) - 0.5)
           - ceil(((90.0 - (((((((n_nationkey - (n_nationkey % 5)) / 5) * 34.0) - 85.0) + 0.0005)) + 27.2)) / 0.703125) - 0.5)) AS ny
        FROM nation)""")),

    // §2.1 decode inside an expression + §2.7 GDAL checksum / stats —
    // oracle scope: exactly-decodable formats (raw/png) at sz≤64, with the
    // checksum itself re-derived in SQL from the closed-form pattern
    ("q30_image_stats", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("fmt") =!= "jpeg" && col("w") <= 64)
        .withColumn("p", image_profile(col("bytes"), col("fmt"), col("w"), col("h")))
        .select(col("key"), col("fmt"),
          col("p.nbands").as("nbands"),
          col("p.pmin").as("pmin"),
          col("p.pmax").as("pmax"),
          col("p.mean").as("mean"),
          col("p.stdev").as("stdev"),
          col("p.checksums")(0).as("checksum_b0"))
    }, Some(s"""
      WITH $PixCte
      SELECT key,
        CASE (key % 3) WHEN 0 THEN 'raw' ELSE 'png' END AS fmt,
        CAST(CASE WHEN (key % 2) = 0 THEN 1 ELSE 3 END AS INT) AS nbands,
        CAST(min(v) AS INT) AS pmin, CAST(max(v) AS INT) AS pmax,
        (CAST(sum(v) AS DOUBLE) / CAST(CAST(sz AS BIGINT) * sz AS DOUBLE)) AS mean,
        sqrt((CAST(sum(CAST(v AS BIGINT) * v) AS DOUBLE) / CAST(CAST(sz AS BIGINT) * sz AS DOUBLE))
             - ((CAST(sum(v) AS DOUBLE) / CAST(CAST(sz AS BIGINT) * sz AS DOUBLE))
                * (CAST(sum(v) AS DOUBLE) / CAST(CAST(sz AS BIGINT) * sz AS DOUBLE)))) AS stdev,
        ${checksumSql("v")} AS checksum_b0
      FROM pv GROUP BY key, sz""")),

    // ---- rows-only checks below (lossy decode / hash internals not
    // ---- SQL-expressible; ScalaTest goldens cover exactness) ----

    // jpeg decode + perceptual-hash surface (PSNR≥40 contract; phash must
    // roundtrip the stored column) — lossy, so rows-only + goldens
    ("q30j_jpeg_profile", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("fmt") === "jpeg" || col("w") > 64)
        .withColumn("p", image_profile(col("bytes"), col("fmt"), col("w"), col("h")))
        .select(col("key"), col("image_id"), col("fmt"), col("caption"),
          col("p.nbands").as("nbands"),
          col("p.pmin").as("pmin"),
          col("p.pmax").as("pmax"),
          col("p.checksums")(0).as("checksum_b0"),
          col("p.phash").as("phash_rt"), col("phash"),
          (col("p.phash") === col("phash")).as("phash_match"))
    }, None),

    // §2.8 warp + mosaic + overview pyramid + PNG encode. The pyramid's
    // STRUCTURE is fully oracle-checked: tile ids, quadkeys, and the
    // 4-fan-in contribution counts (overview n = Σ children = the count
    // of (image, base-tile) pairs under each tile) re-derived in SQL;
    // rendered PNG presence asserted per row, byte-level encode pinned by
    // TilingSpec goldens. key%10=0 keeps only even keys ⇒ all srid 4326.
    ("q31_tile_pyramid", (s: SparkSession, dir: String) => {
      val images = Fixtures.imagesFromParts(s, dir).filter(col("key") % 10 === 0)
      Tiling.rendered(Tiling.pyramid(images, zmin = 2, zmax = 5))
        .select(col("z"), col("x"), col("y"), col("qk"), col("n_images"),
          (col("png").isNotNull && length(col("png")) > 0).as("has_png"))
    }, Some(tilePyramidStructureSql)),

    // §2.8 transformer→warp integration (the reference's actual use of the
    // GCP family: GDALCreateGenImgProjTransformer2's GCP branch feeding
    // gdalwarpoperation, alg/gdaltransformer.cpp:2467-2527): per-row
    // corner GCPs → GDALGCPsToGeoTransform fit → the fitted geotransform
    // drives the FULL warp + mosaic + overview pyramid end-to-end. The
    // fixture GCPs are affine-exact, so the fitted gt reproduces the q31
    // tile structure (ids, quadkeys, fan-in counts) — same oracle.
    ("q101_gcp_warp_tiles", (s: SparkSession, dir: String) => {
      def geoAt(px: org.apache.spark.sql.Column, py: org.apache.spark.sql.Column, xAxis: Boolean) =
        if (xAxis) col("gt")(0) + px * col("gt")(1) + py * col("gt")(2)
        else col("gt")(3) + px * col("gt")(4) + py * col("gt")(5)
      val wD = col("w").cast("double"); val hD = col("h").cast("double")
      val refit = Fixtures.imagesFromParts(s, dir).filter(col("key") % 10 === 0)
        .withColumn("pxs", array(lit(0.0), wD, lit(0.0), wD))
        .withColumn("pys", array(lit(0.0), lit(0.0), hD, hD))
        .withColumn("gxs", array(
          geoAt(lit(0.0), lit(0.0), xAxis = true), geoAt(wD, lit(0.0), xAxis = true),
          geoAt(lit(0.0), hD, xAxis = true), geoAt(wD, hD, xAxis = true)))
        .withColumn("gys", array(
          geoAt(lit(0.0), lit(0.0), xAxis = false), geoAt(wD, lit(0.0), xAxis = false),
          geoAt(lit(0.0), hD, xAxis = false), geoAt(wD, hD, xAxis = false)))
        .withColumn("gt", gcp_to_gt(col("pxs"), col("pys"), col("gxs"), col("gys")))
        .drop("pxs", "pys", "gxs", "gys")
      Tiling.rendered(Tiling.pyramid(refit, zmin = 2, zmax = 5))
        .select(col("z"), col("x"), col("y"), col("qk"), col("n_images"),
          (col("png").isNotNull && length(col("png")) > 0).as("has_png"))
    }, Some(tilePyramidStructureSql)),

    // §2.8 TPS transformer → warp integration (the TPS branch of
    // GDALCreateGenImgProjTransformer2, alg/gdaltransformer.cpp:2497,
    // feeding gdalwarpoperation): per-row corner GCPs → interpolating
    // thin-plate-spline fit (thinplatespline.cpp) → the TPS-derived
    // geotransform drives the FULL warp + mosaic + overview pyramid
    // end-to-end, exactly as q101 drives the polynomial GCP branch. The
    // fixture GCPs are affine-exact, so the interpolating TPS has zero
    // RBF weights (λ=0) and the derived gt reproduces the q31 tile
    // structure (ids, quadkeys, fan-in counts) — same oracle.
    ("q159_tps_warp_tiles", (s: SparkSession, dir: String) => {
      def geoAt(px: org.apache.spark.sql.Column, py: org.apache.spark.sql.Column, xAxis: Boolean) =
        if (xAxis) col("gt")(0) + px * col("gt")(1) + py * col("gt")(2)
        else col("gt")(3) + px * col("gt")(4) + py * col("gt")(5)
      val wD = col("w").cast("double"); val hD = col("h").cast("double")
      val refit = Fixtures.imagesFromParts(s, dir).filter(col("key") % 10 === 0)
        .withColumn("pxs", array(lit(0.0), wD, lit(0.0), wD))
        .withColumn("pys", array(lit(0.0), lit(0.0), hD, hD))
        .withColumn("gxs", array(
          geoAt(lit(0.0), lit(0.0), xAxis = true), geoAt(wD, lit(0.0), xAxis = true),
          geoAt(lit(0.0), hD, xAxis = true), geoAt(wD, hD, xAxis = true)))
        .withColumn("gys", array(
          geoAt(lit(0.0), lit(0.0), xAxis = false), geoAt(wD, lit(0.0), xAxis = false),
          geoAt(lit(0.0), hD, xAxis = false), geoAt(wD, hD, xAxis = false)))
        .withColumn("gt", tps_to_gt(col("pxs"), col("pys"), col("gxs"), col("gys")))
        .drop("pxs", "pys", "gxs", "gys")
      Tiling.rendered(Tiling.pyramid(refit, zmin = 2, zmax = 5))
        .select(col("z"), col("x"), col("y"), col("qk"), col("n_images"),
          (col("png").isNotNull && length(col("png")) > 0).as("has_png"))
    }, Some(tilePyramidStructureSql)),

    // §2.8 RPC transformer → warp integration (the RPC branch of
    // GDALCreateGenImgProjTransformer2, alg/gdaltransformer.cpp:2527,
    // feeding gdalwarpoperation): each row's georeferencing arrives as a
    // rational-polynomial model, corner GCPs are recovered through the
    // reference's ITERATIVE inverse (alg/gdal_rpc.cpp:1130), the affine
    // is refit from them, and the result drives the FULL warp + mosaic +
    // overview pyramid — closing the last of the three
    // GenImgProjTransformer branches (q101 polynomial GCP, q159 TPS).
    // The fixture models are affine-exact, so the center-Jacobian init
    // converges on the first back-projection check and the refit gt
    // reproduces the q31 tile structure — same oracle.
    ("q161_rpc_warp_tiles", (s: SparkSession, dir: String) => {
      val refit = Fixtures.imagesFromParts(s, dir).filter(col("key") % 10 === 0)
        .withColumn("gt", rpc_refit_gt(col("gt"), col("w"), col("h")))
      Tiling.rendered(Tiling.pyramid(refit, zmin = 2, zmax = 5))
        .select(col("z"), col("x"), col("y"), col("qk"), col("n_images"),
          (col("png").isNotNull && length(col("png")) > 0).as("has_png"))
    }, Some(tilePyramidStructureSql)),

    // §2.9/§2.8 incremental tile ingest (batch surface of the streaming
    // front door, streaming/Streams.upsertTiles): the corpus arrives in
    // two waves, each upserted into a hive-partitioned parquet tile store
    // with dynamic partition overwrite; the commutative+idempotent
    // max-blend makes the store equal the one-shot q31 base level
    // bit-for-bit (StreamingSpec asserts buffer equality; here the
    // structure oracle re-derives ids/quadkeys/contribution counts in SQL).
    ("q104_incremental_tiles", (s: SparkSession, dir: String) => {
      val images = Fixtures.imagesFromParts(s, dir).filter(col("key") % 10 === 0)
      val storeDir = java.nio.file.Files.createTempDirectory("graft_store_q104")
      sys.addShutdownHook { // the store is scratch; reclaim it on JVM exit
        import scala.jdk.CollectionConverters._
        import java.nio.file.{Files => F}
        if (F.exists(storeDir))
          F.walk(storeDir).iterator().asScala.toSeq.reverse.foreach(p => F.deleteIfExists(p))
      }
      val store = storeDir.toString
      graft.streaming.Streams.upsertTiles(images.filter(col("key") % 20 === 0), 5, store)
      graft.streaming.Streams.upsertTiles(images.filter(col("key") % 20 =!= 0), 5, store)
      s.read.parquet(store).select(
        tile_z(col("tile")).as("z"), tile_x(col("tile")).as("x"), tile_y(col("tile")).as("y"),
        quadkey(tile_z(col("tile")), tile_x(col("tile")), tile_y(col("tile"))).as("qk"),
        col("n_images"),
        (col("buf").isNotNull && length(col("buf")) > 0).as("has_buf"))
    }, Some(
      s"""SELECT z, x, y, qk, n_images, TRUE AS has_buf
          FROM ($tilePyramidStructureSql) t WHERE z = 5""")),


    // §2.8 polygonize (quantized to 4 classes, 4-connected). Oracle: the
    // region COUNT equals the Euler characteristic Σcells − Σadjacencies +
    // Σ2×2-blocks because the diagonal-stripe pattern produces no holes
    // (verified component-vs-χ over the full key range) — an exact
    // closed-form DuckDB check of the connected-component sweep.
    ("q32_polygonize", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("regions", polygonize_regions(col("bytes"), col("fmt"), Tiling.meta9, lit(false), lit(6)))
        .select(col("key"), explode(col("regions")).as("r"))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n_regions"), sum(col("r.pixels")).as("total_pixels"),
          max(col("r.value")).as("max_class"))
    }, Some(s"""
      WITH $PixCte
      SELECT key,
        CAST(((CAST(sz AS BIGINT) * sz)
          - sum(CASE WHEN px < sz - 1
                     AND ${clsSql("px", "py")} = ${clsSql("px + 1", "py")} THEN 1 ELSE 0 END)
          - sum(CASE WHEN py < sz - 1
                     AND ${clsSql("px", "py")} = ${clsSql("px", "py + 1")} THEN 1 ELSE 0 END)
          + sum(CASE WHEN px < sz - 1 AND py < sz - 1
                     AND ${clsSql("px", "py")} = ${clsSql("px + 1", "py")}
                     AND ${clsSql("px", "py")} = ${clsSql("px", "py + 1")}
                     AND ${clsSql("px", "py")} = ${clsSql("px + 1", "py + 1")} THEN 1 ELSE 0 END))
          AS BIGINT) AS n_regions,
        CAST(CAST(sz AS BIGINT) * sz AS BIGINT) AS total_pixels,
        CAST(max(${clsSql("px", "py")}) AS INT) AS max_class
      FROM ppx GROUP BY key, sz""")),

    // §2.4 zonal statistics: footprint×zone env-join + per-zone pixel agg.
    // Oracle scope: exactly-decodable formats (raw/png) at sz≤64 so DuckDB
    // can re-derive every pixel from the closed-form pattern
    // ((x*7 + y*13 + key*31) % 256); jpeg decode exactness is covered by
    // the PSNR goldens instead. Per-pair sums are integer-valued doubles
    // < 2^53, so their aggregation is exact and order-free.
    ("q33_zonal_stats", (s: SparkSession, dir: String) => {
      val images = Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326 && col("fmt") =!= "jpeg" && col("w") <= 64)
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      val zones = Fixtures.regionBoxes(s, dir)
      SpatialJoin.join(images, zones, st_intersects_env(col("wkb"), col("env")), Quad(5))
        .withColumn("zs", zone_stats(col("bytes"), col("fmt"), Tiling.meta9, col("wkb")))
        .filter(col("zs")(0) > 0)
        .groupBy(col("region_id"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("zs")(0)).cast("bigint").as("n_pixels"),
          min(col("zs")(1)).cast("int").as("zmin"), max(col("zs")(2)).cast("int").as("zmax"),
          sum(col("zs")(3)).cast("bigint").as("zsum"))
    }, Some(s"""
      WITH ${Geometry.BoxCte}, $ZPixCte
      SELECT region_id, CAST(count(DISTINCT key) AS BIGINT) AS n_images,
             count(*) AS n_pixels,
             CAST(min(v) AS INT) AS zmin, CAST(max(v) AS INT) AS zmax,
             CAST(sum(v) AS BIGINT) AS zsum
      FROM zc GROUP BY region_id""")),

    // §2.4 the COMPLETE per-(image, zone) zonal-stat record (reference stat
    // list apps/gdalalg_raster_zonal_stats.cpp:64-72): count/min/max/sum/
    // mean/median/majority/minority/variety/stdev/variance/center/
    // min-center/max-center/weighted — all under the DuckDB oracle
    ("q67_zonal_full", (s: SparkSession, dir: String) => {
      val images = Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326 && col("fmt") =!= "jpeg" && col("w") <= 64)
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      val zones = Fixtures.regionBoxes(s, dir)
      SpatialJoin.join(images, zones, st_intersects_env(col("wkb"), col("env")), Quad(5))
        .withColumn("zs", zone_stats_full(col("bytes"), col("fmt"), Tiling.meta9, col("wkb"), lit(1)))
        .filter(col("zs").isNotNull)
        .select(col("key"), col("region_id"),
          col("zs.count").as("cnt"), col("zs.vmin"), col("zs.vmax"),
          col("zs.sum").as("vsum"), col("zs.mean"), col("zs.median"),
          col("zs.majority"), col("zs.minority"), col("zs.variety"),
          col("zs.stdev"), col("zs.variance"),
          col("zs.center_x"), col("zs.center_y"),
          col("zs.min_cx"), col("zs.min_cy"), col("zs.max_cx"), col("zs.max_cy"),
          col("zs.wsum"), col("zs.wmean"))
    }, Some(s"""
      WITH ${Geometry.BoxCte}, $ZPixCte,
      zagg AS (
        SELECT key, sz, region_id, count(*) AS cnt,
               CAST(min(v) AS INT) AS vmin, CAST(max(v) AS INT) AS vmax,
               CAST(sum(v) AS BIGINT) AS vsum,
               CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS vsum2,
               CAST(median(v) AS DOUBLE) AS vmedian,
               CAST(count(DISTINCT v) AS INT) AS variety,
               CAST(sum(px) AS BIGINT) AS sx, CAST(sum(py) AS BIGINT) AS sy
        FROM zc GROUP BY 1, 2, 3),
      vcnt AS (SELECT key, region_id, v, count(*) AS n FROM zc GROUP BY 1, 2, 3),
      vmaj AS (SELECT key, region_id, CAST(v AS INT) AS majority FROM (
          SELECT key, region_id, v,
                 row_number() OVER (PARTITION BY key, region_id ORDER BY n DESC, v ASC) AS rn
          FROM vcnt) WHERE rn = 1),
      vmnr AS (SELECT key, region_id, CAST(v AS INT) AS minority FROM (
          SELECT key, region_id, v,
                 row_number() OVER (PARTITION BY key, region_id ORDER BY n ASC, v ASC) AS rn
          FROM vcnt) WHERE rn = 1),
      midx AS (SELECT c.key, c.region_id, min((c.py * c.sz) + c.px) AS minidx
               FROM zc c JOIN zagg a ON c.key = a.key AND c.region_id = a.region_id AND c.v = a.vmin
               GROUP BY 1, 2),
      mxdx AS (SELECT c.key, c.region_id, min((c.py * c.sz) + c.px) AS maxidx
               FROM zc c JOIN zagg a ON c.key = a.key AND c.region_id = a.region_id AND c.v = a.vmax
               GROUP BY 1, 2)
      SELECT a.key AS key, a.region_id AS region_id, a.cnt AS cnt, a.vmin, a.vmax, a.vsum,
        (CAST(a.vsum AS DOUBLE) / CAST(a.cnt AS DOUBLE)) AS mean,
        a.vmedian AS median,
        j.majority, n.minority, a.variety,
        sqrt((CAST(a.vsum2 AS DOUBLE) / CAST(a.cnt AS DOUBLE))
             - ((CAST(a.vsum AS DOUBLE) / CAST(a.cnt AS DOUBLE))
                * (CAST(a.vsum AS DOUBLE) / CAST(a.cnt AS DOUBLE)))) AS stdev,
        ((CAST(a.vsum2 AS DOUBLE) / CAST(a.cnt AS DOUBLE))
             - ((CAST(a.vsum AS DOUBLE) / CAST(a.cnt AS DOUBLE))
                * (CAST(a.vsum AS DOUBLE) / CAST(a.cnt AS DOUBLE)))) AS variance,
        (r.lon0 + (((CAST(a.sx AS DOUBLE) / CAST(a.cnt AS DOUBLE)) + 0.5) * r.res)) AS center_x,
        (r.lat0 + (((CAST(a.sy AS DOUBLE) / CAST(a.cnt AS DOUBLE)) + 0.5) * (-(r.res)))) AS center_y,
        (r.lon0 + ((CAST(mi.minidx % a.sz AS DOUBLE) + 0.5) * r.res)) AS min_cx,
        (r.lat0 + ((CAST((mi.minidx - (mi.minidx % a.sz)) / a.sz AS DOUBLE) + 0.5) * (-(r.res)))) AS min_cy,
        (r.lon0 + ((CAST(mx.maxidx % a.sz AS DOUBLE) + 0.5) * r.res)) AS max_cx,
        (r.lat0 + ((CAST((mx.maxidx - (mx.maxidx % a.sz)) / a.sz AS DOUBLE) + 0.5) * (-(r.res)))) AS max_cy,
        CASE WHEN a.key % 2 = 1 THEN a.vsum2 ELSE NULL END AS wsum,
        CASE WHEN a.key % 2 = 1 THEN (CAST(a.vsum2 AS DOUBLE) / CAST(a.vsum AS DOUBLE))
             ELSE NULL END AS wmean
      FROM zagg a
      JOIN zres r ON a.key = r.key
      JOIN vmaj j ON a.key = j.key AND a.region_id = j.region_id
      JOIN vmnr n ON a.key = n.key AND a.region_id = n.region_id
      JOIN midx mi ON a.key = mi.key AND a.region_id = mi.region_id
      JOIN mxdx mx ON a.key = mx.key AND a.region_id = mx.region_id""")),

    // §2.7 point sampling: decode + inverse geotransform + nearest kernel,
    // checked against the closed-form pattern value (raw rows: bit-exact;
    // sample point = the center of pixel (key%sz, (key*7)%sz), which is
    // 0.5 px away from any floor boundary → fp-robust on both engines)
    ("q36_sample_at", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326 && col("fmt") === "raw")
        .withColumn("cx", (col("key") % col("w")).cast("int"))
        .withColumn("cy", ((col("key") * 7) % col("h")).cast("int"))
        .withColumn("lon_s", col("gt")(0) + (col("cx") + 0.5) * col("gt")(1))
        .withColumn("lat_s", col("gt")(3) + (col("cy") + 0.5) * col("gt")(5))
        .select(col("key"), col("cx"), col("cy"),
          sample_at(col("bytes"), col("fmt"), Tiling.meta9, col("lon_s"), col("lat_s")).as("v"))
    }, Some("""
      SELECT key, cx, cy, CAST(((cx * 7) + (cy * 13) + (key * 31)) % 256 AS INT) AS v
      FROM (
        SELECT p_partkey AS key,
          CAST(p_partkey % (CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END) AS INT) AS cx,
          CAST((p_partkey * 7) % (CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END) AS INT) AS cy
        FROM part
        WHERE (p_partkey % 8) <> 1 AND (p_partkey % 3) = 0)""")),

    // §2.7 point sampling KERNELS (GDALInterpolateAtPoint near/bilinear/
    // cubicspline): sample at pixel center + ¼px offset so tx=ty=0.25 and
    // every weighted sum is an exact dyadic — outputs quantized to the
    // exact integer weight-sums (bilinear ×256, B-spline ×384²) so the
    // oracle is pure integer arithmetic over pattern values
    ("q69_point_interp", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326 && col("fmt") === "raw")
        .withColumn("cx", (col("key") % (col("w") - 3) + 1).cast("int"))
        .withColumn("cy", ((col("key") * 7) % (col("h") - 3) + 1).cast("int"))
        .withColumn("lon_s", col("gt")(0) + (col("cx") + 0.75) * col("gt")(1))
        .withColumn("lat_s", col("gt")(3) + (col("cy") + 0.75) * col("gt")(5))
        .select(col("key"), col("cx"), col("cy"),
          round(sample_at_alg(col("bytes"), col("fmt"), Tiling.meta9,
            col("lon_s"), col("lat_s"), lit("bilinear")) * 256).cast("bigint").as("bilin_q"),
          round(sample_at_alg(col("bytes"), col("fmt"), Tiling.meta9,
            col("lon_s"), col("lat_s"), lit("cubicspline")) * 147456).cast("bigint").as("cspline_q"),
          sample_at_alg(col("bytes"), col("fmt"), Tiling.meta9,
            col("lon_s"), col("lat_s"), lit("near")).cast("bigint").as("near_v"))
    }, Some {
      def v(i: Int, j: Int) = s"(((cx + (${i})) * 7 + (cy + (${j})) * 13 + (key * 31)) % 256)"
      // unnormalized B-spline weights ×64 at tap distances i−0.25, i∈−1..2
      val w64 = Map(-1 -> 27L, 0 -> 235L, 1 -> 121L, 2 -> 1L)
      val cs = (for { j <- -1 to 2; i <- -1 to 2 } yield s"(${w64(i) * w64(j)} * ${v(i, j)})")
        .mkString(" + ")
      s"""
      WITH pimgx AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END AS sz
        FROM part WHERE (p_partkey % 8) <> 1 AND (p_partkey % 3) = 0),
      pt AS (SELECT key, sz,
               CAST(1 + (key % (sz - 3)) AS INT) AS cx,
               CAST(1 + ((key * 7) % (sz - 3)) AS INT) AS cy
             FROM pimgx)
      SELECT key, cx, cy,
        CAST((144 * ${v(0, 0)}) + (48 * ${v(1, 0)}) + (48 * ${v(0, 1)}) + (16 * ${v(1, 1)}) AS BIGINT) AS bilin_q,
        CAST($cs AS BIGINT) AS cspline_q,
        CAST(${v(0, 0)} AS BIGINT) AS near_v
      FROM pt"""
    }),

    // §2.6 INTERSECT / EXCEPT set operations
    ("q37_intersect_except", (s: SparkSession, dir: String) => {
      val custNations = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_nationkey").cast("int").as("nk")).distinct()
      val suppNations = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_nationkey").cast("int").as("nk")).distinct()
      custNations.intersect(suppNations).withColumn("op", lit("intersect"))
        .union(custNations.except(suppNations).withColumn("op", lit("except")))
    }, Some("""
      SELECT nk, 'intersect' AS op FROM (
        SELECT DISTINCT CAST(c_nationkey AS INT) AS nk FROM customer
        INTERSECT SELECT DISTINCT CAST(s_nationkey AS INT) AS nk FROM supplier)
      UNION ALL
      SELECT nk, 'except' AS op FROM (
        SELECT DISTINCT CAST(c_nationkey AS INT) AS nk FROM customer
        EXCEPT SELECT DISTINCT CAST(s_nationkey AS INT) AS nk FROM supplier)""")),

    // §2.8 contour: marching-squares iso-lines per image. Fully oracle-
    // checked via level-set TOPOLOGY: in a simply-connected raster with
    // hole-free threshold classes (the stripe pattern; Euler==union-find
    // verified over the key range), the class-adjacency graph is a tree,
    // so lines-per-image = C(v<L) + C(v≥L) − 1 with components from the
    // Euler counts; points = marching-squares segments (mixed cells 1,
    // diagonal saddles 2) + open lines; stripes never close a ring.
    ("q38_contour", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("c", explode(contour_lines(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit(64.0), lit(128.0), lit(192.0)))))
        .groupBy(col("c.level").as("level"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("c.n_points").cast("bigint")).as("n_points"),
          sum(when(col("c.closed"), 1L).otherwise(0L)).as("n_closed"))
    }, Some {
      def pv(dx: Int, dy: Int) = s"(((px + (${dx})) * 7 + (py + (${dy})) * 13 + (key * 31)) % 256)"
      def b(dx: Int, dy: Int) = s"(${pv(dx, dy)} < l.level)"
      def nb(dx: Int, dy: Int) = s"(NOT ${b(dx, dy)})"
      def cnt(cond: String) = s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)"
      def euler(m: (Int, Int) => String) =
        Seq(
          cnt(m(0, 0)),
          cnt(s"px < sz - 1 AND ${m(0, 0)} AND ${m(1, 0)}"),
          cnt(s"py < sz - 1 AND ${m(0, 0)} AND ${m(0, 1)}"),
          cnt(s"px < sz - 1 AND py < sz - 1 AND ${m(0, 0)} AND ${m(1, 0)} AND ${m(0, 1)} AND ${m(1, 1)}"))
      val Seq(bc, bh, bv, bq) = euler(b)
      val Seq(ac, ah, av, aq) = euler(nb)
      val n4 = s"((CASE WHEN ${b(0, 0)} THEN 1 ELSE 0 END + CASE WHEN ${b(1, 0)} THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN ${b(0, 1)} THEN 1 ELSE 0 END + CASE WHEN ${b(1, 1)} THEN 1 ELSE 0 END))"
      val segs = s"""CAST(sum(CASE WHEN px < sz - 1 AND py < sz - 1 THEN
          (CASE WHEN $n4 IN (1, 3) THEN 1
                WHEN $n4 = 2 AND (${b(0, 0)}) = (${b(1, 1)}) THEN 2
                WHEN $n4 = 2 THEN 1 ELSE 0 END) ELSE 0 END) AS BIGINT)"""
      s"""
      WITH $PixCte,
      lv AS (SELECT unnest([CAST(64.0 AS DOUBLE), CAST(128.0 AS DOUBLE), CAST(192.0 AS DOUBLE)]) AS level),
      cc AS (
        SELECT key, l.level AS level,
               (($bc - $bh - $bv + $bq) + ($ac - $ah - $av + $aq)) - 1 AS lines_img,
               $segs AS segs_img
        FROM ppx, lv l GROUP BY key, sz, l.level)
      SELECT level, CAST(sum(lines_img) AS BIGINT) AS n_lines,
             CAST(sum(segs_img + lines_img) AS BIGINT) AS n_points,
             CAST(0 AS BIGINT) AS n_closed
      FROM cc GROUP BY level"""
    }),

    // §2.8 contour POLYGON mode (alg/contour.cpp:569 polygonize branch):
    // iso-polygons between consecutive levels over center-split triangles
    // (Contour.bands scaladoc documents the convex-piece representation).
    // Fully oracle-checked: per-triangle {v>=L} area has the closed form
    // 2*f*g in exact int64 lattice units (f,g = 1/1024-quantized crossing
    // fractions, ties impossible for byte rasters), so the oracle
    // re-derives per-interval piece counts AND exact area sums from the
    // closed-form pixel pattern.
    ("q39_contour_polygons", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("b", explode(contour_polygons(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit(64.0), lit(128.0), lit(192.0)), lit(false))))
        .groupBy(col("b.iv").as("iv"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("b.n_pieces").cast("bigint")).as("n_pieces"),
          sum(col("b.area_q")).as("area_q"))
    }, Some {
      // exact SQL mirror of Contour.triAreaGeq (same IEEE op order)
      def fq(x: String, y: String, l: Int) =
        s"CAST(round((CAST(1024 AS DOUBLE) * (CAST($l AS DOUBLE) - ($x))) / (($y) - ($x))) AS BIGINT)"
      def aq(l: Int): String = {
        def g(x: String) = s"(($x) >= CAST($l AS DOUBLE))"
        s"""(CASE
          WHEN ${g("va")} AND ${g("vb")} AND ${g("cc")} THEN 2097152
          WHEN NOT ${g("va")} AND NOT ${g("vb")} AND NOT ${g("cc")} THEN 0
          WHEN ${g("va")} AND NOT ${g("vb")} AND NOT ${g("cc")} THEN 2 * ${fq("va", "vb", l)} * ${fq("va", "cc", l)}
          WHEN NOT ${g("va")} AND ${g("vb")} AND NOT ${g("cc")} THEN 2 * ${fq("vb", "va", l)} * ${fq("vb", "cc", l)}
          WHEN NOT ${g("va")} AND NOT ${g("vb")} AND ${g("cc")} THEN 2 * ${fq("cc", "va", l)} * ${fq("cc", "vb", l)}
          WHEN NOT ${g("va")} THEN 2097152 - 2 * ${fq("va", "vb", l)} * ${fq("va", "cc", l)}
          WHEN NOT ${g("vb")} THEN 2097152 - 2 * ${fq("vb", "va", l)} * ${fq("vb", "cc", l)}
          ELSE 2097152 - 2 * ${fq("cc", "va", l)} * ${fq("cc", "vb", l)} END)"""
      }
      def pv(dx: Int, dy: Int) =
        s"(((px + $dx) * 7) + ((py + $dy) * 13) + (key * 31)) % 256"
      s"""
      WITH $PixCte,
      cell AS (
        SELECT key, sz, px, py,
          ${pv(0, 0)} AS tl, ${pv(1, 0)} AS tr,
          ${pv(1, 1)} AS br, ${pv(0, 1)} AS bl
        FROM ppx WHERE px < sz - 1 AND py < sz - 1),
      cellc AS (
        SELECT *, CAST(tl + tr + br + bl AS DOUBLE) / CAST(4 AS DOUBLE) AS cc,
          unnest([0, 1, 2, 3]) AS t
        FROM cell),
      tri AS (
        SELECT key, cc,
          CAST(CASE t WHEN 0 THEN tl WHEN 1 THEN tr WHEN 2 THEN br ELSE bl END AS DOUBLE) AS va,
          CAST(CASE t WHEN 0 THEN tr WHEN 1 THEN br WHEN 2 THEN bl ELSE tl END AS DOUBLE) AS vb
        FROM cellc),
      aq AS (
        SELECT key, ${aq(64)} AS a64, ${aq(128)} AS a128, ${aq(192)} AS a192,
          unnest([0, 1, 2, 3]) AS iv
        FROM tri),
      ivd AS (
        SELECT key, CAST(iv AS INT) AS iv,
          CASE iv WHEN 0 THEN 2097152 - a64 WHEN 1 THEN a64 - a128
                  WHEN 2 THEN a128 - a192 ELSE a192 END AS dq
        FROM aq),
      agg AS (
        SELECT iv,
          CAST(sum(CASE WHEN dq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pieces,
          CAST(sum(dq) AS BIGINT) AS area_q
        FROM ivd GROUP BY iv),
      imgs AS (SELECT CAST(count(*) AS BIGINT) AS n_images FROM pimg)
      SELECT iv, n_images, n_pieces, area_q FROM agg, imgs"""
    }),

    // §2.8 contour polygon RING layer (alg/marching_squares/
    // polygon_ring_appender.h ring merging): shells + nested holes per
    // interval from exact directed-edge cancellation over the q39 convex
    // pieces. Oracled on the ring-path invariant: the signed shoelace sum
    // over all traced rings equals the triangle-sum interval area in
    // exact int64 areaQ units (cancellation preserves shoelace sums), so
    // the SQL mirror is the q39 area derivation — any cancellation,
    // pinch-tracing, or chaining bug breaks the equality. Shell/hole
    // counts and WKB nesting are pinned by ContourSpec closed-form
    // fixtures (flat → 1 shell; cone → annulus 1+1; checkerboard pinch).
    ("q155_contour_rings", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("b", explode(contour_rings(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit(64.0), lit(128.0), lit(192.0)), lit(false))))
        .groupBy(col("b.iv").as("iv"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("b.ring_area_q")).as("area_rings_q"))
    }, Some {
      def fq(x: String, y: String, l: Int) =
        s"CAST(round((CAST(1024 AS DOUBLE) * (CAST($l AS DOUBLE) - ($x))) / (($y) - ($x))) AS BIGINT)"
      def aq(l: Int): String = {
        def g(x: String) = s"(($x) >= CAST($l AS DOUBLE))"
        s"""(CASE
          WHEN ${g("va")} AND ${g("vb")} AND ${g("cc")} THEN 2097152
          WHEN NOT ${g("va")} AND NOT ${g("vb")} AND NOT ${g("cc")} THEN 0
          WHEN ${g("va")} AND NOT ${g("vb")} AND NOT ${g("cc")} THEN 2 * ${fq("va", "vb", l)} * ${fq("va", "cc", l)}
          WHEN NOT ${g("va")} AND ${g("vb")} AND NOT ${g("cc")} THEN 2 * ${fq("vb", "va", l)} * ${fq("vb", "cc", l)}
          WHEN NOT ${g("va")} AND NOT ${g("vb")} AND ${g("cc")} THEN 2 * ${fq("cc", "va", l)} * ${fq("cc", "vb", l)}
          WHEN NOT ${g("va")} THEN 2097152 - 2 * ${fq("va", "vb", l)} * ${fq("va", "cc", l)}
          WHEN NOT ${g("vb")} THEN 2097152 - 2 * ${fq("vb", "va", l)} * ${fq("vb", "cc", l)}
          ELSE 2097152 - 2 * ${fq("cc", "va", l)} * ${fq("cc", "vb", l)} END)"""
      }
      def pv(dx: Int, dy: Int) =
        s"(((px + $dx) * 7) + ((py + $dy) * 13) + (key * 31)) % 256"
      s"""
      WITH $PixCte,
      cell AS (
        SELECT key, sz, px, py,
          ${pv(0, 0)} AS tl, ${pv(1, 0)} AS tr,
          ${pv(1, 1)} AS br, ${pv(0, 1)} AS bl
        FROM ppx WHERE px < sz - 1 AND py < sz - 1),
      cellc AS (
        SELECT *, CAST(tl + tr + br + bl AS DOUBLE) / CAST(4 AS DOUBLE) AS cc,
          unnest([0, 1, 2, 3]) AS t
        FROM cell),
      tri AS (
        SELECT key, cc,
          CAST(CASE t WHEN 0 THEN tl WHEN 1 THEN tr WHEN 2 THEN br ELSE bl END AS DOUBLE) AS va,
          CAST(CASE t WHEN 0 THEN tr WHEN 1 THEN br WHEN 2 THEN bl ELSE tl END AS DOUBLE) AS vb
        FROM cellc),
      aq AS (
        SELECT key, ${aq(64)} AS a64, ${aq(128)} AS a128, ${aq(192)} AS a192,
          unnest([0, 1, 2, 3]) AS iv
        FROM tri),
      ivd AS (
        SELECT key, CAST(iv AS INT) AS iv,
          CASE iv WHEN 0 THEN 2097152 - a64 WHEN 1 THEN a64 - a128
                  WHEN 2 THEN a128 - a192 ELSE a192 END AS dq
        FROM aq),
      agg AS (
        SELECT iv, CAST(sum(dq) AS BIGINT) AS area_rings_q
        FROM ivd GROUP BY iv),
      imgs AS (SELECT CAST(count(*) AS BIGINT) AS n_images FROM pimg)
      SELECT iv, n_images, area_rings_q FROM agg, imgs"""
    }),

    // §2.8 contour polygon FEATURE rows — the reference's actual output
    // layout (one feature per polygon = shell + nested holes,
    // alg/marching_squares/polygon_ring_appender.h): q155 refined to RING
    // granularity. The pit fixture (Fixtures.pitRastersFromNation) makes
    // every ring SQL-derivable: at level 110 each pit's below-region is
    // an isolated ring whose signed area is the per-pit triangle-sum
    // (cells of pit p all have px ∈ [12p+3, 12p+7], so (px−3)//12
    // identifies the pit), and the above-region is ONE shell carrying
    // exactly n_pits holes with area = raster total − Σ pits. Every
    // per-ring area and hole count is value-checked, row by row.
    ("q158_contour_ring_features", (s: SparkSession, dir: String) => {
      Fixtures.pitRastersFromNation(s, dir)
        .withColumn("f", explode(contour_ring_feats(col("bytes"), lit("raw"),
          array(col("w").cast("double"), col("h").cast("double"), lit(0.0),
            lit(0.0), lit(1.0), lit(0.0), lit(0.0), lit(0.0), lit(1.0)),
          array(lit(110.0)), lit(false))))
        .select(col("key"), col("f.iv").as("iv"), col("f.n_holes").as("n_holes"),
          col("f.feat_area_q").as("feat_area_q"))
    }, Some {
      def fq(x: String, y: String, l: Int) =
        s"CAST(round((CAST(1024 AS DOUBLE) * (CAST($l AS DOUBLE) - ($x))) / (($y) - ($x))) AS BIGINT)"
      def aq(l: Int): String = {
        def g(x: String) = s"(($x) >= CAST($l AS DOUBLE))"
        s"""(CASE
          WHEN ${g("va")} AND ${g("vb")} AND ${g("cc")} THEN 2097152
          WHEN NOT ${g("va")} AND NOT ${g("vb")} AND NOT ${g("cc")} THEN 0
          WHEN ${g("va")} AND NOT ${g("vb")} AND NOT ${g("cc")} THEN 2 * ${fq("va", "vb", l)} * ${fq("va", "cc", l)}
          WHEN NOT ${g("va")} AND ${g("vb")} AND NOT ${g("cc")} THEN 2 * ${fq("vb", "va", l)} * ${fq("vb", "cc", l)}
          WHEN NOT ${g("va")} AND NOT ${g("vb")} AND ${g("cc")} THEN 2 * ${fq("cc", "va", l)} * ${fq("cc", "vb", l)}
          WHEN NOT ${g("va")} THEN 2097152 - 2 * ${fq("va", "vb", l)} * ${fq("va", "cc", l)}
          WHEN NOT ${g("vb")} THEN 2097152 - 2 * ${fq("vb", "va", l)} * ${fq("vb", "cc", l)}
          ELSE 2097152 - 2 * ${fq("cc", "va", l)} * ${fq("cc", "vb", l)} END)"""
      }
      // pixel value of the pit fixture at (xe, ye) — pure key arithmetic
      def vAt(xe: String, ye: String) =
        s"""(CASE WHEN ($xe) >= 4 AND (($xe) - 4) // 12 <= n_pits - 1
              AND (($xe) - 4) % 12 < 2 + ((key + (($xe) - 4) // 12) % 3)
              AND ($ye) >= y0 AND ($ye) < y0 + 2 + ((2 * key + (($xe) - 4) // 12) % 3)
            THEN 40 ELSE 200 END)"""
      s"""
      WITH g1 AS (SELECT CAST(n_nationkey AS BIGINT) AS key,
                         1 + (n_nationkey % 3) AS n_pits,
                         4 + (n_nationkey % 4) AS y0,
                         unnest(generate_series(0, 38)) AS py
                  FROM nation),
      g2 AS (SELECT key, n_pits, y0, py, unnest(generate_series(0, 38)) AS px FROM g1),
      cell AS (
        SELECT key, n_pits, px, py,
          ${vAt("px", "py")} AS tl, ${vAt("px + 1", "py")} AS tr,
          ${vAt("px + 1", "py + 1")} AS br, ${vAt("px", "py + 1")} AS bl
        FROM g2),
      cellc AS (
        SELECT *, CAST(tl + tr + br + bl AS DOUBLE) / CAST(4 AS DOUBLE) AS cc,
          unnest([0, 1, 2, 3]) AS t
        FROM cell),
      tri AS (
        SELECT key, n_pits, px, cc,
          CAST(CASE t WHEN 0 THEN tl WHEN 1 THEN tr WHEN 2 THEN br ELSE bl END AS DOUBLE) AS va,
          CAST(CASE t WHEN 0 THEN tr WHEN 1 THEN br WHEN 2 THEN bl ELSE tl END AS DOUBLE) AS vb
        FROM cellc),
      belowtri AS (
        SELECT key, n_pits, px, 2097152 - ${aq(110)} AS dq FROM tri),
      pits AS (
        SELECT key, (px - 3) // 12 AS pit, CAST(sum(dq) AS BIGINT) AS area
        FROM belowtri WHERE dq > 0
        GROUP BY key, pit),
      below AS (
        SELECT key, CAST(0 AS INT) AS iv, CAST(0 AS INT) AS n_holes,
               area AS feat_area_q
        FROM pits),
      above AS (
        SELECT b.key, CAST(1 AS INT) AS iv, CAST(max(b.n_pits) AS INT) AS n_holes,
               CAST(CAST(39 * 39 * 4 AS BIGINT) * 2097152 - COALESCE(sum(CASE WHEN dq > 0 THEN dq ELSE 0 END), 0) AS BIGINT) AS feat_area_q
        FROM belowtri b GROUP BY b.key)
      SELECT key, iv, n_holes, feat_area_q FROM below
      UNION ALL
      SELECT key, iv, n_holes, feat_area_q FROM above"""
    }),

    // §2.5 focal/DEM derivatives per image (hillshade/slope/roughness) —
    // ONE fused decode via focal_multi. Oracled: Horn gradients, slope
    // atan and the full hillshade shading equation are mirrored in SQL
    // (UTM keys carry their meter resolution); the GDAL float-path
    // checksum quantizes per-pixel via floor(v+0.5), so the ulp-level
    // libm-vs-JVM drift in atan/sin/cos sits ~1e13× below every rounding
    // boundary of the rational-input fixture.
    ("q35_focal_dem", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("f", explode(focal_multi(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit("hillshade"), lit("slope"), lit("roughness")))))
        .groupBy(col("f.op").as("op"))
        .agg(count(lit(1)).as("n"), sum(col("f.checksum").cast("bigint")).as("checksum_sum"))
    }, Some {
      def cv(dx: Int, dy: Int) = clampedV(dx, dy)
      val dzdx = s"((((${cv(1, -1)} + (2.0 * ${cv(1, 0)})) + ${cv(1, 1)})" +
        s" - ((${cv(-1, -1)} + (2.0 * ${cv(-1, 0)})) + ${cv(-1, 1)})) / (8.0 * res))"
      val dzdy = s"((((${cv(-1, 1)} + (2.0 * ${cv(0, 1)})) + ${cv(1, 1)})" +
        s" - ((${cv(-1, -1)} + (2.0 * ${cv(0, -1)})) + ${cv(1, -1)})) / (8.0 * res))"
      val n9 = for { dy <- -1 to 1; dx <- -1 to 1 } yield cv(dx, dy)
      val rough = s"(greatest(${n9.mkString(", ")}) - least(${n9.mkString(", ")}))"
      val cang = "((sin(radians(45.0)) - (cos(radians(45.0))" +
        " * ((gx * sin(radians(315.0))) + ((-(gy)) * cos(radians(315.0))))))" +
        " / sqrt((1.0 + (gx * gx)) + ((-(gy)) * (-(gy)))))"
      def cks(v: String) =
        s"CAST(sum(($v) % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + px) % 11) + 1]) % 65536 AS INT)"
      s"""
      WITH fimg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz,
          CASE WHEN (p_partkey % 8) = 1 THEN (30.0 + ((p_partkey % 7) * 15.0))
               ELSE ((CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499)))
                     / CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END)
          END AS res
        FROM part WHERE (p_partkey % 3) <> 2 AND (p_partkey % 4) <> 3),
      frows AS (SELECT key, sz, res, unnest(generate_series(0, sz - 1)) AS py FROM fimg),
      fpx AS (SELECT key, sz, res, py, unnest(generate_series(0, sz - 1)) AS px FROM frows),
      grad AS (
        SELECT key, sz, py, px, $dzdx AS gx, $dzdy AS gy, $rough AS rv
        FROM fpx),
      vals AS (
        SELECT key, sz, py, px, rv,
          CAST(CASE WHEN (254.0 * $cang) <= 0.0 THEN 1
                    ELSE least(floor((1.0 + (254.0 * $cang)) + 0.5), 255.0) END AS BIGINT) AS hv,
          CAST(floor(((atan(sqrt((gx * gx) + (gy * gy))) * 180.0) / pi()) + 0.5) AS BIGINT) AS sv
        FROM grad),
      per AS (
        SELECT key, ${cks("hv")} AS ch, ${cks("sv")} AS cs, ${cks("rv")} AS cr
        FROM vals GROUP BY key, sz)
      SELECT 'hillshade' AS op, count(*) AS n, CAST(sum(ch) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'slope' AS op, count(*) AS n, CAST(sum(cs) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'roughness' AS op, count(*) AS n, CAST(sum(cr) AS BIGINT) AS checksum_sum FROM per"""
    }),

    // §2.5 roughness (max−min of the clamped 3×3 window): pure integer
    // arithmetic ⇒ full per-image DuckDB oracle incl. the GDAL checksum
    ("q68_focal_roughness", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("fmt") =!= "jpeg" && col("w") <= 64)
        .withColumn("f", explode(focal_multi(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit("roughness")))))
        .select(col("key"), col("f.mean").as("mean_rough"), col("f.checksum").as("checksum"))
    }, Some {
      val n9 = for { dy <- -1 to 1; dx <- -1 to 1 } yield clampedV(dx, dy)
      val rough = s"(greatest(${n9.mkString(", ")}) - least(${n9.mkString(", ")}))"
      s"""
      WITH $PixCte
      SELECT key,
        (CAST(sum($rough) AS DOUBLE) / CAST(CAST(sz AS BIGINT) * sz AS DOUBLE)) AS mean_rough,
        ${checksumSql(rough)} AS checksum
      FROM ppx GROUP BY key, sz"""
    }),

    // §2.8 sieve + proximity + fill-nodata morphology. Oracled end-to-end:
    //  - n_before = 4-conn component count of the class band via the q32
    //    Euler identity (stripe classes are hole-free);
    //  - proximity: exact EDT min d² re-derived as min over rows of
    //    (dy² + nearest-in-row²), nearest-in-row via window fwd/back fill;
    //    |dy| ≤ 40 is provably sufficient (own-row gap ≤ 37 at sz 64, and
    //    sz−1 ≤ 19 below that). sqrt + round(·1000) are IEEE-exact on the
    //    integer d², so dmax_q/dsum_q compare bit-for-bit;
    //  - fill-nodata: a 37-pixel stays nodata iff all 8 rays × 8 steps hit
    //    only nodata or exit — a 64-probe EXISTS per nodata pixel.
    // Post-sieve component count and the three checksums are component-
    // label/EDT internals (not SQL-expressible) → MorphSpec goldens.
    // nearblack collar trim (apps/nearblack_lib.cpp two-pass scanline).
    // At maxNonBlack = 0 the scanline state machine has a closed form over
    // running windows (proof in core/NearBlack.scala scaladoc): vertical =
    // per-column prefix/suffix of all-near pixels; horizontal = near pixel
    // trimmed iff no non-near pixel precedes it in scan order OR a
    // column-collar pixel sits after the last non-near one (the
    // counts==0 re-enable). The oracle re-derives all six directional
    // components with window functions and checksums the trimmed band.
    ("q121_nearblack", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg" && col("key") % 2 === 0)
        .withColumn("nb", nearblack_stats(col("bytes"), col("fmt"), Tiling.meta9,
          lit(100), lit(0), lit(false)))
        .select(col("key"), col("nb.collar_px").as("collar_px"),
          col("nb.checksum").as("checksum_nb"))
    }, Some(s"""
      WITH $PixCte,
      sb AS (SELECT key, sz, px, py, v, (v <= 100) AS nb FROM pv WHERE (key % 2) = 0),
      vt AS (
        SELECT key, sz, px, py, v, nb,
          (min(CASE WHEN nb THEN 1 ELSE 0 END) OVER wtd = 1) AS vtd,
          (min(CASE WHEN nb THEN 1 ELSE 0 END) OVER wbu = 1) AS vbu
        FROM sb
        WINDOW
          wtd AS (PARTITION BY key, px ORDER BY py
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wbu AS (PARTITION BY key, px ORDER BY py DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      hz AS (
        SELECT key, sz, px, py, v, nb, vtd, vbu,
          max(CASE WHEN NOT nb THEN px END) OVER wl AS lnn,
          max(CASE WHEN vtd THEN px END) OVER wl AS lvt,
          max(CASE WHEN vbu THEN px END) OVER wl AS lvb,
          min(CASE WHEN NOT nb THEN px END) OVER wr AS rnn,
          min(CASE WHEN vtd THEN px END) OVER wr AS rvt,
          min(CASE WHEN vbu THEN px END) OVER wr AS rvb
        FROM vt
        WINDOW
          wl AS (PARTITION BY key, py ORDER BY px
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          wr AS (PARTITION BY key, py ORDER BY px DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      m AS (
        SELECT key, sz, px, py, v,
          (vtd OR vbu
           OR (nb AND px <= sz - 2 AND (lnn IS NULL OR (lvt IS NOT NULL AND lvt > lnn)))
           OR (nb AND px <= sz - 2 AND (lnn IS NULL OR (lvb IS NOT NULL AND lvb > lnn)))
           OR (nb AND px >= 1 AND (rnn IS NULL OR (rvt IS NOT NULL AND rvt < rnn)))
           OR (nb AND px >= 1 AND (rnn IS NULL OR (rvb IS NOT NULL AND rvb < rnn)))) AS msk
        FROM hz)
      SELECT key,
        CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS INT) AS collar_px,
        ${checksumSql("CASE WHEN msk THEN 0 ELSE v END")} AS checksum_nb
      FROM m GROUP BY key, sz""")),

    // Histogram equalization (apps/gdalenhance.cpp): the LUT pipeline —
    // 256-bucket histogram with zeroed extremes, half-bucket cumulative
    // (integer division), clamp((cum·256)/total) LUT, out = lut[v] — is
    // pure integer arithmetic, so the oracle re-derives the LUT with
    // window functions and checksums the equalized band, plus three LUT
    // probe columns.
    ("q128_equalize", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("e", equalize_stats(col("bytes"), col("fmt"), Tiling.meta9))
        .select(col("key"), col("e.checksum_eq").as("checksum_eq"),
          col("e.lut64").as("lut64"), col("e.lut128").as("lut128"),
          col("e.lut192").as("lut192"))
    }, Some(s"""
      WITH $PixCte,
      h AS (SELECT key, sz, v, count(*) AS cnt FROM pv GROUP BY key, sz, v),
      bins AS (SELECT i.key, i.sz, g.b
               FROM pimg i, (SELECT unnest(generate_series(0, 255)) AS b) g),
      hist AS (SELECT bins.key, bins.sz, bins.b,
               CASE WHEN bins.b = 0 OR bins.b = 255 THEN 0
                    ELSE coalesce(h.cnt, 0) END AS cnt
               FROM bins LEFT JOIN h ON h.key = bins.key AND h.v = bins.b),
      cum AS (SELECT key, sz, b,
              coalesce(sum(cnt) OVER (PARTITION BY key ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt // 2 AS cumv,
              sum(cnt) OVER (PARTITION BY key) AS total
              FROM hist),
      lut AS (SELECT key, sz, b,
              greatest(0, least(255, (cumv * 256) // greatest(total, 1))) AS lv
              FROM cum),
      eq AS (SELECT p.key, p.sz, p.px, p.py, l.lv AS v
             FROM pv p JOIN lut l ON l.key = p.key AND l.b = p.v)
      SELECT c.key, c.checksum_eq, p.lut64, p.lut128, p.lut192
      FROM (SELECT key, sz, ${checksumSql("v")} AS checksum_eq
            FROM eq GROUP BY key, sz) c
      JOIN (SELECT key,
              CAST(max(CASE WHEN b = 64 THEN lv END) AS INT) AS lut64,
              CAST(max(CASE WHEN b = 128 THEN lv END) AS INT) AS lut128,
              CAST(max(CASE WHEN b = 192 THEN lv END) AS INT) AS lut192
            FROM lut GROUP BY key) p ON p.key = c.key""")),

    // Corpus histogram MATCHING (the image-curation normalizer beside
    // q128's per-image equalization): every band-0 histogram is summed
    // into ONE corpus reference via the vec_sum array aggregate (256
    // longs per task on the shuffle — a two-phase agg over any corpus
    // size), then each image maps level b to the smallest reference
    // level whose corpus-CDF share reaches the image's CDF share —
    // decided by exact int64 cross-multiplication, never a float
    // quantile — and the remapped band is checksummed. The oracle
    // re-derives both CDFs and the min-g inversion relationally.
    ("q135_hist_match", (s: SparkSession, dir: String) => {
      val imgs = Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
      val ip = graft.pipeline.Caches.persist(graft.pipeline.Spread.toCores(imgs))
      val corpus = ip.agg(graft.expr.functions.vec_sum(
          graft.expr.functions.band_hist(col("bytes"), col("fmt"), Tiling.meta9)).as("h"))
        .head.getSeq[Long](0).toArray
      ip.withColumn("m",
          graft.expr.functions.hist_match_stats(col("bytes"), col("fmt"), Tiling.meta9, corpus))
        .select(col("key"), col("m.checksum_hm").as("checksum_hm"),
          col("m.lut64").as("lut64"), col("m.lut128").as("lut128"),
          col("m.lut192").as("lut192"))
    }, Some(s"""
      WITH $PixCte,
      h AS (SELECT key, sz, v, count(*) AS cnt FROM pv GROUP BY key, sz, v),
      bins AS (SELECT i.key, i.sz, g.b
               FROM pimg i, (SELECT unnest(generate_series(0, 255)) AS b) g),
      hist AS (SELECT bins.key, bins.sz, bins.b, coalesce(h.cnt, 0) AS cnt
               FROM bins LEFT JOIN h ON h.key = bins.key AND h.v = bins.b),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tc FROM hist),
      cim AS (SELECT key, sz, b,
                     CAST(sum(cnt) OVER (PARTITION BY key ORDER BY b) AS BIGINT) AS c,
                     CAST(sz AS BIGINT) * sz AS ti
              FROM hist),
      ccum AS (SELECT b, CAST(sum(cc) OVER (ORDER BY b) AS BIGINT) AS cg
               FROM (SELECT b, sum(cnt) AS cc FROM hist GROUP BY b)),
      lutbl AS (SELECT i.key, i.sz, i.b, CAST(min(g.b) AS INT) AS lv
                FROM cim i JOIN ccum g
                  ON g.cg * i.ti >= i.c * (SELECT tc FROM tot)
                GROUP BY i.key, i.sz, i.b),
      eq AS (SELECT p.key, p.sz, p.px, p.py, l.lv AS v
             FROM pv p JOIN lutbl l ON l.key = p.key AND l.b = p.v)
      SELECT c.key, c.checksum_hm, p.lut64, p.lut128, p.lut192
      FROM (SELECT key, sz, ${checksumSql("v")} AS checksum_hm
            FROM eq GROUP BY key, sz) c
      JOIN (SELECT key,
              CAST(max(CASE WHEN b = 64 THEN lv END) AS INT) AS lut64,
              CAST(max(CASE WHEN b = 128 THEN lv END) AS INT) AS lut128,
              CAST(max(CASE WHEN b = 192 THEN lv END) AS INT) AS lut192
            FROM lutbl GROUP BY key) p ON p.key = c.key""")),

    // gdalcompare: corpus-vs-corpus raster diffing (golden key k vs
    // candidate k+12 — same size/format/band class by construction, so
    // the comparison exercises the checksum + pixel-sweep path, not the
    // structural bail-outs). Self equi-join on key over the cached
    // corpus: both sides are the big operand at scale, so the shuffle
    // hash join IS the right plan — no broadcast candidate exists when
    // comparing two corpus versions. The oracle re-derives both images'
    // pixels from the pattern and both GDAL checksums in SQL.
    ("q137_raster_compare", (s: SparkSession, dir: String) => {
      val imgs = Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
      val a = imgs.select(col("key").as("key_a"), col("bytes").as("bytes_a"),
        col("fmt").as("fmt_a"), col("w").as("w_a"), col("h").as("h_a"))
      val b = imgs.select(col("key").as("key_b"), col("bytes").as("bytes_b"),
        col("fmt").as("fmt_b"), col("w").as("w_b"), col("h").as("h_b"))
      a.join(b, col("key_b") === col("key_a") + 12)
        .withColumn("c", raster_compare(col("bytes_a"), col("fmt_a"), col("w_a"), col("h_a"),
          col("bytes_b"), col("fmt_b"), col("w_b"), col("h_b")))
        .select(col("key_a"), col("key_b"),
          col("c.nbands_a").as("nbands"),
          col("c.checksum_a").as("checksum_a"), col("c.checksum_b").as("checksum_b"),
          col("c.diff_count").as("diff_count"), col("c.max_diff").as("max_diff"),
          col("c.sse").as("sse"), col("c.found_diff").as("found_diff"))
    }, Some(s"""
      WITH $PixCte,
      pairs AS (SELECT a.key AS key_a, b.key AS key_b
                FROM pimg a JOIN pimg b ON b.key = a.key + 12),
      pd AS (SELECT p.key_a, p.key_b, x.sz, x.px, x.py,
               ((x.px * 7) + (x.py * 13) + (p.key_a * 31)) % 256 AS va,
               ((x.px * 7) + (x.py * 13) + (p.key_b * 31)) % 256 AS vb
             FROM pairs p JOIN ppx x ON x.key = p.key_a),
      agg AS (SELECT key_a, key_b,
               CAST(sum(CASE WHEN va <> vb THEN 1 ELSE 0 END) AS BIGINT) AS diff_count,
               CAST(max(abs(va - vb)) AS INT) AS max_diff,
               CAST(sum(CAST(va - vb AS BIGINT) * (va - vb)) AS BIGINT) AS sse,
               ${checksumSql("va")} AS checksum_a,
               ${checksumSql("vb")} AS checksum_b
              FROM pd GROUP BY key_a, key_b)
      SELECT key_a, key_b,
        CAST(CASE WHEN (key_a % 2) = 0 THEN 1 ELSE 3 END AS INT) AS nbands,
        checksum_a, checksum_b, diff_count, max_diff, sse,
        CAST(CASE WHEN checksum_a <> checksum_b
             THEN (CASE WHEN (key_a % 2) = 0 THEN 1 ELSE 3 END) ELSE 0 END AS INT) AS found_diff
      FROM agg""")),

    // gdal2xyz: raster → (gx, gy, value) point dump with the skip_nodata
    // path (nodata = 0), pixel-center georeferencing, over the 16×16
    // raw 4326 subset (exactly decodable, oracle-enumerable gt). One
    // decode per image; the explode fans per-pixel rows across the
    // shuffle — at scale the generator shape keeps the decode cost
    // amortized over w*h output rows.
    ("q138_xyz_extract", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("key") % 12 === 0 && col("key") % 8 =!= 1)
        .withColumn("p", explode(raster_xyz(col("bytes"), col("fmt"), Tiling.meta9, lit(0))))
        .select(col("key"), col("p.px").as("px"), col("p.py").as("py"),
          col("p.gx").as("gx"), col("p.gy").as("gy"), col("p.v").as("v"))
    }, Some("""
      WITH ximg AS (
        SELECT p_partkey AS key, 16 AS sz,
          (CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499))) AS span,
          ((((p_partkey * 9973) % 350000) / 1000.0) - 180.0) AS lon0,
          ((((p_partkey * 7919) % 160000) / 1000.0) - 80.0) AS lat0
        FROM part WHERE (p_partkey % 12) = 0 AND (p_partkey % 8) <> 1),
      xres AS (SELECT key, sz, (span / sz) AS res, lon0, lat0 FROM ximg),
      xrows AS (SELECT key, sz, res, lon0, lat0,
                unnest(generate_series(0, sz - 1)) AS py FROM xres),
      xpx AS (SELECT key, sz, res, lon0, lat0, py,
              unnest(generate_series(0, sz - 1)) AS px FROM xrows)
      SELECT key, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        (lon0 + ((CAST(px AS DOUBLE) + 0.5) * res)) AS gx,
        (lat0 + ((CAST(py AS DOUBLE) + 0.5) * (-(res)))) AS gy,
        CAST(((px * 7) + (py * 13) + (key * 31)) % 256 AS INT) AS v
      FROM xpx
      WHERE (((px * 7) + (py * 13) + (key * 31)) % 256) <> 0""")),

    // Training-chip extraction (the vision-pretraining loader's window
    // sweep, gdal_retile-shaped): every full 8×8 chip at stride 4, each
    // summarized by its own GDAL checksum + exact pixel sum. One decode
    // per image; the explode fans chips across the shuffle (never a
    // decode per chip — at stride<chip that would multiply decode cost
    // by the overlap factor). Oracle enumerates every chip pixel.
    ("q142_image_chips", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("c", explode(raster_chips(col("bytes"), col("fmt"), Tiling.meta9,
          lit(8), lit(4))))
        .select(col("key"), col("c.cx").as("cx"), col("c.cy").as("cy"),
          col("c.checksum").as("checksum"), col("c.vsum").as("vsum"))
    }, Some(s"""
      WITH $PixCte,
      cgrid AS (SELECT key, sz, unnest(generate_series(0, ((sz - 8) // 4))) AS cy FROM pimg),
      cgx AS (SELECT key, sz, cy, unnest(generate_series(0, ((sz - 8) // 4))) AS cx FROM cgrid),
      co AS (SELECT key, sz, cx, cy, unnest(generate_series(0, 7)) AS oy FROM cgx),
      cox AS (SELECT key, sz, cx, cy, oy, unnest(generate_series(0, 7)) AS ox FROM co),
      cv AS (SELECT key, cx, cy, ox, oy,
              ((((cx * 4) + ox) * 7) + (((cy * 4) + oy) * 13) + (key * 31)) % 256 AS v
             FROM cox)
      SELECT key, CAST(cx AS INT) AS cx, CAST(cy AS INT) AS cy,
        CAST(sum((v) % ([7,11,13,17,19,23,29,31,37,41,43])[(((oy * 8) + ox) % 11) + 1]) % 65536 AS INT) AS checksum,
        CAST(sum(v) AS BIGINT) AS vsum
      FROM cv GROUP BY key, cx, cy""")),

    ("q74_morphology", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("sv", sieve_stats(col("bytes"), col("fmt"), Tiling.meta9, lit(6), lit(8), lit(false)))
        .withColumn("px", proximity_stats(col("bytes"), col("fmt"), Tiling.meta9, lit(6), lit(0)))
        .withColumn("fl", fill_nodata_stats(col("bytes"), col("fmt"), Tiling.meta9, lit(37), lit(8)))
        .select(col("key"),
          col("sv.n_before"),
          round(col("px.dmax") * 1000).cast("bigint").as("dmax_q"),
          col("px.dsum_q"),
          col("fl.n_nodata_before"), col("fl.n_nodata_after"))
    }, Some(s"""
      WITH $PixCte,
      eul AS (
        SELECT key,
          CAST(((CAST(sz AS BIGINT) * sz)
            - sum(CASE WHEN px < sz - 1
                       AND ${clsSql("px", "py")} = ${clsSql("px + 1", "py")} THEN 1 ELSE 0 END)
            - sum(CASE WHEN py < sz - 1
                       AND ${clsSql("px", "py")} = ${clsSql("px", "py + 1")} THEN 1 ELSE 0 END)
            + sum(CASE WHEN px < sz - 1 AND py < sz - 1
                       AND ${clsSql("px", "py")} = ${clsSql("px + 1", "py")}
                       AND ${clsSql("px", "py")} = ${clsSql("px", "py + 1")}
                       AND ${clsSql("px", "py")} = ${clsSql("px + 1", "py + 1")} THEN 1 ELSE 0 END))
            AS INT) AS n_before
        FROM ppx GROUP BY key, sz),
      rown AS (
        SELECT key, sz, px, py,
          least(coalesce(px - xprev, 1048576), coalesce(xnext - px, 1048576)) AS rd
        FROM (
          SELECT key, sz, px, py,
            max(CASE WHEN (v >> 6) = 0 THEN px END)
              OVER (PARTITION BY key, py ORDER BY px
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xprev,
            min(CASE WHEN (v >> 6) = 0 THEN px END)
              OVER (PARTITION BY key, py ORDER BY px
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS xnext
          FROM pv)),
      d2 AS (
        SELECT a.key, a.px, a.py,
          min(((a.py - b.py) * (a.py - b.py)) + (b.rd * b.rd)) AS dd
        FROM pv a JOIN rown b
          ON a.key = b.key AND a.px = b.px AND abs(a.py - b.py) <= 40
        GROUP BY a.key, a.px, a.py),
      prox AS (
        SELECT key,
          CAST(round(max(sqrt(CAST(dd AS DOUBLE))) * 1000.0) AS BIGINT) AS dmax_q,
          CAST(sum(CAST(round(sqrt(CAST(dd AS DOUBLE)) * 1000.0) AS BIGINT)) AS BIGINT) AS dsum_q
        FROM d2 WHERE dd < 1000000 GROUP BY key),
      has0 AS (SELECT key, count(*) AS c0 FROM pv WHERE (v >> 6) = 0 GROUP BY key),
      ndpix AS (SELECT key, sz, px, py FROM pv WHERE v = 37),
      dirs(dx, dy) AS (VALUES (1,0),(-1,0),(0,1),(0,-1),(1,1),(1,-1),(-1,1),(-1,-1)),
      ndfill AS (
        SELECT n.key, n.px, n.py,
          max(CASE WHEN (n.px + d.dx * s.k) >= 0 AND (n.px + d.dx * s.k) < n.sz
                    AND (n.py + d.dy * s.k) >= 0 AND (n.py + d.dy * s.k) < n.sz
                    AND ((((n.px + d.dx * s.k) * 7) + ((n.py + d.dy * s.k) * 13)
                         + (n.key * 31)) % 256) <> 37
              THEN 1 ELSE 0 END) AS filled
        FROM ndpix n, dirs d, (SELECT unnest(generate_series(1, 8)) AS k) s
        GROUP BY n.key, n.px, n.py),
      nd AS (
        SELECT key, CAST(count(*) AS INT) AS n_nodata_before,
               CAST(sum(CASE WHEN filled = 0 THEN 1 ELSE 0 END) AS INT) AS n_nodata_after
        FROM ndfill GROUP BY key)
      SELECT e.key, e.n_before,
        CASE WHEN coalesce(h.c0, 0) > 0 THEN p.dmax_q END AS dmax_q,
        CASE WHEN coalesce(h.c0, 0) > 0 THEN p.dsum_q END AS dsum_q,
        coalesce(n.n_nodata_before, 0) AS n_nodata_before,
        coalesce(n.n_nodata_after, 0) AS n_nodata_after
      FROM eul e
      LEFT JOIN prox p ON e.key = p.key
      LEFT JOIN has0 h ON e.key = h.key
      LEFT JOIN nd n ON e.key = n.key""")),

    // §2.4 raster histogram (GetHistogram analog): 8 equal buckets over
    // [0,256) — exact bucket counts under the oracle
    ("q75_histogram", (s: SparkSession, dir: String) => {
      val hcol = raster_histogram(col("bytes"), col("fmt"), col("w"), col("h"), lit(8), lit(0.0), lit(256.0))
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("hist", hcol)
        .select(col("key") +: (0 until 8).map(i => col("hist")(i).as(s"h$i")): _*)
    }, Some(s"""
      WITH $PixCte
      SELECT key,
        ${(0 until 8).map(i => s"CAST(sum(CASE WHEN (v >> 5) = $i THEN 1 ELSE 0 END) AS BIGINT) AS h$i").mkString(",\n        ")}
      FROM pv GROUP BY key""")),

    // §2.11 image-quality signals (engine-native curation filter — the
    // image analog of the Gopher text rules): Laplacian blur moments over
    // interior pixels, exposure Σv/Σv², and clipped-pixel counts, all
    // exact int64 per image. The oracle re-derives every moment from the
    // fixture plane: each 4-neighbour of A = 7px+13py+31k is (A±7)%256 or
    // (A±13)%256, non-negative inside the interior guard, so the SQL is
    // pure integer algebra.
    ("q145_image_quality", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("q", raster_quality(col("bytes"), col("fmt"), col("w"), col("h")))
        .select(col("key"), col("q.n_int"), col("q.lap_sum"), col("q.lap_sum2"),
          col("q.n_lo"), col("q.n_hi"), col("q.v_sum"), col("q.v_sum2"))
    }, Some(s"""
      WITH $PixCte,
      lap AS (
        SELECT key, sz, px, py, v,
          CASE WHEN px > 0 AND px < sz - 1 AND py > 0 AND py < sz - 1
               THEN 4*v - ((px*7 + py*13 + key*31) - 7) % 256
                        - ((px*7 + py*13 + key*31) + 7) % 256
                        - ((px*7 + py*13 + key*31) - 13) % 256
                        - ((px*7 + py*13 + key*31) + 13) % 256
               ELSE NULL END AS l
        FROM pv)
      SELECT key,
        CAST(count(l) AS BIGINT) AS n_int,
        CAST(coalesce(sum(l), 0) AS BIGINT) AS lap_sum,
        CAST(coalesce(sum(l*l), 0) AS BIGINT) AS lap_sum2,
        CAST(sum(CASE WHEN v <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        CAST(sum(CASE WHEN v >= 254 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        CAST(sum(v) AS BIGINT) AS v_sum,
        CAST(sum(v*v) AS BIGINT) AS v_sum2
      FROM lap GROUP BY key""")),

    // §2.11 deterministic augmentation (flip_h/flip_v/rot90/rot180 — the
    // training-loader stage): each view is value-checked by its GDAL
    // checksum. The oracle never materializes a flipped image: the
    // checksum of a remapped view equals the sum over SOURCE pixels
    // weighted by the prime at the pixel's OUTPUT index, so all five
    // sums ride one pass over the pv pixel CTE with remapped (±7/±13-free)
    // integer index arithmetic.
    ("q148_augment", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("a", raster_augment(col("bytes"), col("fmt"), col("w"), col("h")))
        .select(col("key"), col("a.cks_id"), col("a.cks_fh"), col("a.cks_fv"),
          col("a.cks_r90"), col("a.cks_r180"))
    }, Some(s"""
      WITH $PixCte
      SELECT key,
        CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + px) % 11) + 1]) % 65536 AS INT) AS cks_id,
        CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + (sz - 1 - px)) % 11) + 1]) % 65536 AS INT) AS cks_fh,
        CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[((((sz - 1 - py) * sz) + px) % 11) + 1]) % 65536 AS INT) AS cks_fv,
        CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[(((px * sz) + (sz - 1 - py)) % 11) + 1]) % 65536 AS INT) AS cks_r90,
        CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[((((sz - 1 - py) * sz) + (sz - 1 - px)) % 11) + 1]) % 65536 AS INT) AS cks_r180
      FROM pv GROUP BY key""")),

    // §2.11 training-loader resize: area downsample by 4 (round-half-up
    // on the exact block sum — the average overview kernel at an integral
    // factor, where it is SQL-derivable) plus the central half-crop, each
    // view value-checked by its GDAL checksum from ONE decode. The oracle
    // re-derives the block sums, the rounded means, and both remapped
    // checksums in pure integer algebra over the pixel CTE.
    ("q149_resize_crop", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("r", raster_resize(col("bytes"), col("fmt"), col("w"), col("h"), lit(4)))
        .select(col("key"), col("r.rw").as("rw"),
          col("r.cks_resized").as("cks_resized"),
          col("r.sum_resized").as("sum_resized"),
          col("r.cks_crop").as("cks_crop"))
    }, Some(s"""
      WITH $PixCte,
      blk AS (
        SELECT key, sz, px // 4 AS bx, py // 4 AS by, sum(v) AS bs
        FROM pv GROUP BY key, sz, bx, by),
      rz AS (SELECT key, sz // 4 AS rsz, bx, by, (bs + 8) // 16 AS rv FROM blk),
      rza AS (
        SELECT key, CAST(max(rsz) AS INT) AS rw,
          CAST(sum(rv % ([7,11,13,17,19,23,29,31,37,41,43])[(((by * rsz) + bx) % 11) + 1]) % 65536 AS INT) AS cks_resized,
          CAST(sum(rv) AS BIGINT) AS sum_resized
        FROM rz GROUP BY key),
      cr AS (
        SELECT key, sz // 2 AS csz, px - (sz // 4) AS cx, py - (sz // 4) AS cy, v
        FROM pv
        WHERE px >= sz // 4 AND px < (sz // 4) + (sz // 2)
          AND py >= sz // 4 AND py < (sz // 4) + (sz // 2)),
      cra AS (
        SELECT key,
          CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[(((cy * csz) + cx) % 11) + 1]) % 65536 AS INT) AS cks_crop
        FROM cr GROUP BY key)
      SELECT r.key AS key, r.rw, r.cks_resized, r.sum_resized, c.cks_crop
      FROM rza r JOIN cra c ON r.key = c.key""")),

    // §2.1 band rescale (gdal_translate -scale / -exponent analog): a
    // linear [32,224]→[10,200] stretch with clip counts and a power-law
    // e=2 [0,255]→[0,100] stretch, each plane value-checked by its GDAL
    // checksum + exact sum. Integer endpoints make every output value
    // exact round-half-up int64 arithmetic, re-derived verbatim in SQL.
    ("q151_scale_stretch", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("lin", raster_scale(col("bytes"), col("fmt"), col("w"), col("h"),
          lit(32), lit(224), lit(10), lit(200), lit(1)))
        .withColumn("pw", raster_scale(col("bytes"), col("fmt"), col("w"), col("h"),
          lit(0), lit(255), lit(0), lit(100), lit(2)))
        .select(col("key"),
          col("lin.cks_scaled").as("cks_lin"), col("lin.sum_scaled").as("sum_lin"),
          col("lin.n_clip_lo").as("n_lo"), col("lin.n_clip_hi").as("n_hi"),
          col("pw.cks_scaled").as("cks_pw"), col("pw.sum_scaled").as("sum_pw"))
    }, Some(s"""
      WITH $PixCte,
      sc AS (
        SELECT key, sz, px, py, v,
          10 + ((LEAST(GREATEST(v - 32, 0), 192) * 190 * 2 + 192) // (2 * 192)) AS ol,
          ((CAST(v AS BIGINT) * v * 100 * 2 + 65025) // (2 * 65025)) AS op
        FROM pv)
      SELECT key,
        CAST(sum(ol % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + px) % 11) + 1]) % 65536 AS INT) AS cks_lin,
        CAST(sum(ol) AS BIGINT) AS sum_lin,
        CAST(sum(CASE WHEN v < 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        CAST(sum(CASE WHEN v > 224 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        CAST(sum(op % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + px) % 11) + 1]) % 65536 AS INT) AS cks_pw,
        CAST(sum(op) AS BIGINT) AS sum_pw
      FROM sc GROUP BY key""")),

    // §2.11 corpus normalization statistics: the dataset mean/std job a
    // training pipeline runs once before input scaling — per-image exact
    // int64 moments from ONE decode, reduced by a plain two-phase Spark
    // aggregate (map-side combined ⇒ one row per size class on the
    // shuffle; a single scan at any corpus size).
    ("q150_norm_stats", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("m", raster_moments(col("bytes"), col("fmt"), col("w"), col("h")))
        .groupBy(col("w").as("sz"))
        .agg(count(lit(1)).as("n_images"), sum(col("m.n_px")).as("n_px"),
          sum(col("m.v_sum")).as("v_sum"), sum(col("m.v_sum2")).as("v_sum2"),
          min(col("m.v_min")).as("v_min"), max(col("m.v_max")).as("v_max"))
        .withColumn("mean", col("v_sum").cast("double") / col("n_px").cast("double"))
    }, Some(s"""
      WITH $PixCte,
      agg AS (
        SELECT sz, count(DISTINCT key) AS n_images, count(*) AS n_px,
          sum(v) AS v_sum, sum(CAST(v AS BIGINT) * v) AS v_sum2,
          min(v) AS v_min, max(v) AS v_max
        FROM pv GROUP BY sz)
      SELECT CAST(sz AS INT) AS sz, CAST(n_images AS BIGINT) AS n_images,
        CAST(n_px AS BIGINT) AS n_px, CAST(v_sum AS BIGINT) AS v_sum,
        CAST(v_sum2 AS BIGINT) AS v_sum2, CAST(v_min AS INT) AS v_min,
        CAST(v_max AS INT) AS v_max,
        (CAST(v_sum AS DOUBLE) / CAST(n_px AS DOUBLE)) AS mean
      FROM agg""")),

    // §2.1 windowed read (IRasterIO analog): slice checksum re-derived in
    // SQL over the window's local coordinates
    ("q76_windowed_read", (s: SparkSession, dir: String) => {
      val winW = (col("w") / 4).cast("int")
      val winH = (col("h") / 4).cast("int")
      val x0 = (col("key") % (col("w") / 2)).cast("int")
      val y0 = ((col("key") * 3) % (col("h") / 2)).cast("int")
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("slice", slice_raster(col("bytes"), col("fmt"), Tiling.meta9, x0, y0, winW, winH))
        .select(col("key"),
          checksum_bands(col("slice"), lit("raw"), winW, winH)(0).as("win_cks"))
    }, Some(s"""
      WITH pimg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz
        FROM part WHERE (p_partkey % 3) <> 2 AND (p_partkey % 4) <> 3),
      wspec AS (
        SELECT key, sz, (sz // 4) AS winw, (sz // 4) AS winh,
               CAST(key % (sz // 2) AS BIGINT) AS x0,
               CAST((key * 3) % (sz // 2) AS BIGINT) AS y0
        FROM pimg),
      wrows AS (SELECT key, sz, winw, winh, x0, y0, unnest(generate_series(0, winh - 1)) AS wy FROM wspec),
      wpx AS (SELECT key, sz, winw, winh, x0, y0, wy, unnest(generate_series(0, winw - 1)) AS wx FROM wrows)
      SELECT key,
        CAST(sum((((x0 + wx) * 7) + ((y0 + wy) * 13) + (key * 31)) % 256
                 % ([7,11,13,17,19,23,29,31,37,41,43])[(((wy * winw) + wx) % 11) + 1]) % 65536 AS INT) AS win_cks
      FROM wpx GROUP BY key""")),

    // §2.7 per-pixel expression surface (muParser analog): arbitrary
    // arithmetic over bands compiled once, checksummed — oracle re-derives
    // the integer-valued plane in SQL
    ("q78_pixel_calc", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("pc", pixel_calc(col("bytes"), col("fmt"), col("w"), col("h"),
          lit("(b0 * 2 + 7) % 256")))
        .select(col("key"), col("pc.mean").as("mean"), col("pc.checksum").as("checksum"))
    }, Some(s"""
      WITH $PixCte,
      calc AS (SELECT key, sz, px, py, (((v * 2) + 7) % 256) AS vv FROM pv)
      SELECT key,
        (CAST(sum(vv) AS DOUBLE) / CAST(CAST(sz AS BIGINT) * sz AS DOUBLE)) AS mean,
        ${checksumSql("vv")} AS checksum
      FROM calc GROUP BY key, sz""")),

    // §2.2 range-table reclassify (first matching closed range wins)
    ("q79_reclassify", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("rc", reclassify(col("bytes"), col("fmt"), col("w"), col("h"),
          array(lit(0.0), lit(64.0), lit(128.0)), array(lit(63.0), lit(127.0), lit(191.0)),
          array(lit(10), lit(20), lit(2)), lit(9)))
        .select(col("key"), col("rc.checksum").as("checksum"), col("rc.sum_v").as("sum_v"))
    }, Some(s"""
      WITH $PixCte,
      rc AS (SELECT key, sz, px, py,
               CASE WHEN v <= 63 THEN 10 WHEN v <= 127 THEN 20
                    WHEN v <= 191 THEN 2 ELSE 9 END AS vv
             FROM pv)
      SELECT key, ${checksumSql("vv")} AS checksum,
             CAST(sum(vv) AS BIGINT) AS sum_v
      FROM rc GROUP BY key, sz""")),

    // §2.8 cutline-masked warp (GDALWarpCutlineMasker analog): per-pair
    // tile render clipped to the region polygon (mask internals rows-only;
    // TilingSpec pins the mask semantics)
    // Oracled end-to-end: a 4326 box image near-warped to its z5 tile and
    // masked by a box cutline stays a RECTANGLE in tile pixel space (both
    // constraints are axis-aligned boxes under the monotone separable
    // Mercator map), so the valid region is a closed-form [xlo..xhi]×
    // [ylo..yhi] from the warp in-bounds rule (src px = floor((lon−lon0)/
    // res) ∈ [0,sz)) and the rasterize fill rule (center ∈ [edge,edge)).
    // Inside the rectangle the near-sampled value is the pattern at
    // (floor(spx), floor(spy)), so even the GDAL checksum of band 0 is
    // SQL-derivable; the validity-plane checksum is count(valid) mod 2^16
    // because 1 % p = 1 for every checksum prime. jpeg decodes are lossy →
    // band checksum NULLed on both sides (validity stays exact: it is
    // geometry-only). Ceil/floor boundary flips need a sample within
    // ~1e-12 px of a grid line — decimal-derived fixture coords against
    // the π-based tile grid keep every boundary generic.
    ("q80_cutline_tile", (s: SparkSession, dir: String) => {
      val images = Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") === 4326 && col("key") % 10 === 0)
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      val zones = Fixtures.regionBoxes(s, dir)
      SpatialJoin.join(images, zones, st_intersects_env(col("wkb"), col("env")), Quad(5))
        .withColumn("tile", tile_cover(col("env"), 5, 5)(0))
        .withColumn("buf", warp_tile_cut(col("bytes"), col("fmt"), Tiling.meta9,
          col("tile"), lit("near"), col("wkb")))
        .select(col("key"), col("region_id"),
          when(col("fmt") =!= "jpeg", planes_checksums(col("buf"))(0)).as("cks_b0"),
          planes_checksums(col("buf"))(3).as("cks_validity"))
    }, Some {
      val MC = MercC
      val SP5 = spanZ("5")
      s"""
      WITH ${Geometry.BoxCte},
      cim AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END AS sz,
          (CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499))) AS span,
          ((((p_partkey * 9973) % 350000) / 1000.0) - 180.0) AS lon0,
          ((((p_partkey * 7919) % 160000) / 1000.0) - 80.0) AS lat0
        FROM part WHERE (p_partkey % 10) = 0),
      pair AS (
        SELECT c.key, c.sz, c.span, c.lon0, c.lat0, b.region_id,
               b.minx AS bminx, b.miny AS bminy, b.maxx AS bmaxx, b.maxy AS bmaxy
        FROM cim c, boxes b
        WHERE c.lon0 <= b.maxx AND (c.lon0 + c.span) >= b.minx
          AND (c.lat0 - c.span) <= b.maxy AND c.lat0 >= b.miny),
      tl AS (
        SELECT *,
          least(greatest(floor(((((lon0 * $MC) - $OriginX) / $SP5) + 0.001)), 0.0), 31.0) AS tx,
          least(greatest(floor(((($OriginY - ${mercY("lat0")}) / $SP5) + 0.001)), 0.0), 31.0) AS ty
        FROM pair),
      geo AS (
        SELECT key, region_id, sz, span, lon0, lat0, bminx, bminy, bmaxx, bmaxy,
          ($OriginX + (tx * $SP5)) AS tminx, ($OriginY - (ty * $SP5)) AS tmaxy,
          ($SP5 / 256.0) AS rt
        FROM tl),
      rng AS (
        SELECT key, region_id, sz, span, lon0, lat0, tminx, tmaxy, rt,
          CAST(greatest(0.0,
            ceil(((((lon0 * $MC) - tminx) / rt) - 0.5)),
            ceil(((((bminx * $MC) - tminx) / rt) - 0.5))) AS BIGINT) AS xlo,
          CAST(least(255.0,
            ceil((((((lon0 + span) * $MC) - tminx) / rt) - 0.5)) - 1.0,
            ceil(((((bmaxx * $MC) - tminx) / rt) - 0.5)) - 1.0) AS BIGINT) AS xhi,
          CAST(greatest(0.0,
            ceil((((tmaxy - ${mercY("lat0")}) / rt) - 0.5)),
            ceil((((tmaxy - ${mercY("bmaxy")}) / rt) - 0.5))) AS BIGINT) AS ylo,
          CAST(least(255.0,
            ceil((((tmaxy - ${mercY("(lat0 - span)")}) / rt) - 0.5)) - 1.0,
            ceil((((tmaxy - ${mercY("bminy")}) / rt) - 0.5)) - 1.0) AS BIGINT) AS yhi
        FROM geo),
      rows80 AS (
        SELECT key, region_id, sz, span, lon0, lat0, tminx, tmaxy, rt, xlo, xhi,
               unnest(generate_series(ylo, yhi)) AS y
        FROM rng WHERE xlo <= xhi AND ylo <= yhi AND (key % 3) <> 2),
      rlat AS (
        SELECT *, CAST(floor(((lat0 -
            (((2.0 * atan(exp((tmaxy - ((CAST(y AS DOUBLE) + 0.5) * rt)) / 6378137.0)))
              - (pi() / 2.0)) * (180.0 / pi())))
          / (span / sz))) AS BIGINT) AS spy
        FROM rows80),
      px80 AS (
        SELECT key, region_id, sz, span, lon0, tminx, rt, y, spy,
               unnest(generate_series(xlo, xhi)) AS x
        FROM rlat),
      cont AS (
        SELECT key, region_id, y, x, spy,
          CAST(floor(((((tminx + ((CAST(x AS DOUBLE) + 0.5) * rt)) / $MC) - lon0)
            / (span / sz))) AS BIGINT) AS spx
        FROM px80),
      ck AS (
        SELECT key, region_id,
          CAST(sum(((((spx * 7) + (spy * 13) + (key * 31)) % 256)
            % ([7,11,13,17,19,23,29,31,37,41,43])[((((y * 256) + x) % 11) + 1)])) % 65536 AS INT) AS cks_b0
        FROM cont GROUP BY key, region_id)
      SELECT r.key, CAST(r.region_id AS BIGINT) AS region_id,
        CASE WHEN (r.key % 3) = 2 THEN NULL
             ELSE CAST(coalesce(c.cks_b0, 0) AS INT) END AS cks_b0,
        CAST(((greatest(CAST(0 AS BIGINT), (r.xhi - r.xlo) + 1))
              * (greatest(CAST(0 AS BIGINT), (r.yhi - r.ylo) + 1))) % 65536 AS INT) AS cks_validity
      FROM rng r LEFT JOIN ck c ON r.key = c.key AND r.region_id = c.region_id"""
    }),

    // §2.8 pansharpen + palette/dither (Brovey / median-cut / F-S kernels;
    // upsample/error-diffusion internals rows-only, semantics in ColorSpec)
    // §2.8 pansharpen + median-cut palette, now FULLY oracle-backed on the
    // lossless subset: the pansharpen half reuses the q97 op-for-op SQL
    // mirror; the palette half emits the FIRST split's integer-exact
    // invariants (median_cut_split — tied pixels share the split-channel
    // value, so the half sums are order-free) plus the recursion's box
    // count and a dither mean-error bound. The full palette recursion and
    // Floyd–Steinberg index raster remain golden-pinned in ColorSpec
    // (sequential error diffusion is not SQL-expressible).
    ("q81_pansharpen_palette", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("key") % 2 === 1 && col("fmt") =!= "jpeg")
        .withColumn("ps", pansharpen_profile(col("bytes"), col("fmt"), col("w"), col("h")))
        .withColumn("pal", rgb_to_palette(col("bytes"), col("fmt"), col("w"), col("h"), lit(16)))
        .withColumn("sp", median_cut_split(col("bytes"), col("fmt"), col("w"), col("h")))
        .filter(col("ps").isNotNull && col("pal").isNotNull && col("sp").isNotNull)
        .select(col("key"),
          col("ps.checksums")(0).as("sharp_cks_b0"), col("ps.mean").as("sharp_mean"),
          col("pal.n_colors").as("n_colors"),
          (col("pal.mean_err") <= 32.0).as("mean_err_ok"),
          col("sp.axis").as("axis"), col("sp.median_v").as("median_v"),
          col("sp.n_lo").as("n_lo"), col("sp.lo_sum").as("lo_sum"),
          col("sp.hi_sum").as("hi_sum"))
    }, Some(s"""
      WITH $pansharpenSharpCte,
      agg AS (
        SELECT k, sz,
          CAST(sum(v % ([7,11,13,17,19,23,29,31,37,41,43])[((y * sz + x) % 11) + 1]) % 65536 AS INT)
            AS sharp_cks_b0,
          (CAST(3 * sum(v) AS DOUBLE) / ((CAST(3 AS DOUBLE) * sz) * sz)) AS sharp_mean
        FROM sharp GROUP BY k, sz),
      s1 AS (SELECT k, sz, unnest(generate_series(0, sz - 1)) AS x FROM k2),
      s2 AS (SELECT k, sz, x, unnest(generate_series(0, sz - 1)) AS y FROM s1),
      sr AS (
        SELECT k, sz, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rn
        FROM (SELECT k, sz, ((x*7 + y*13 + k*31) % 256) AS v FROM s2)),
      split AS (
        SELECT k,
          CAST(max(CASE WHEN rn = ((sz*sz)//2) + 1 THEN v END) AS INT) AS median_v,
          CAST((sz*sz)//2 AS INT) AS n_lo,
          CAST(sum(CASE WHEN rn <= (sz*sz)//2 THEN v ELSE 0 END) AS BIGINT) AS lo_sum,
          CAST(sum(CASE WHEN rn > (sz*sz)//2 THEN v ELSE 0 END) AS BIGINT) AS hi_sum
        FROM sr GROUP BY k, sz)
      SELECT a.k AS key, a.sharp_cks_b0, a.sharp_mean,
        CAST(16 AS INT) AS n_colors, TRUE AS mean_err_ok,
        CAST(0 AS INT) AS axis, s.median_v, s.n_lo, s.lo_sum, s.hi_sum
      FROM agg a JOIN split s ON s.k = a.k""")),

    // UTM footprint branch: the Karney inverse series is MIRRORED in SQL
    // (coefficients emitted from core.Utm's own values; sinh/cosh spelled
    // as exp forms), compared after floor-quantization at 1e4 whose
    // quantum exceeds any cross-engine transcendental drift by ~10⁵×
    ("q34_footprint_utm", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("srid") =!= 4326)
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
        .select(col("key"), col("srid"),
          floor(col("env")(0) * 1e4).cast("bigint").as("minx_u"),
          floor(col("env")(1) * 1e4).cast("bigint").as("miny_u"),
          floor(col("env")(2) * 1e4).cast("bigint").as("maxx_u"),
          floor(col("env")(3) * 1e4).cast("bigint").as("maxy_u"))
    }, Some {
      def lit17(d: Double) = f"CAST($d%.17g AS DOUBLE)"
      val kA = lit17(graft.core.Utm.kA)
      val b = graft.core.Utm.betaCoeffs.map(lit17)
      val d = graft.core.Utm.deltaCoeffs.map(lit17)
      def ch(v: String) = s"((exp($v) + exp(-($v))) / 2.0)"
      def sh(v: String) = s"((exp($v) - exp(-($v))) / 2.0)"
      s"""
      WITH uimg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 1 THEN 20 ELSE 256 END AS sz,
          (CAST(300000.0 AS DOUBLE) + ((p_partkey % 401) * CAST(500.0 AS DOUBLE))) AS e0,
          (CAST(3600000.0 AS DOUBLE) + ((p_partkey % 397) * CAST(500.0 AS DOUBLE))) AS n0,
          (CAST(30.0 AS DOUBLE) + ((p_partkey % 7) * CAST(15.0 AS DOUBLE))) AS res,
          CASE WHEN (((p_partkey - (p_partkey % 8)) / 8) % 2) = 0 THEN 32611 ELSE 32631 END AS srid
        FROM part WHERE (p_partkey % 8) = 1),
      ubox AS (
        SELECT key, srid, e0 AS bminx, (n0 + (sz * (-(res)))) AS bminy,
               (e0 + (sz * res)) AS bmaxx, n0 AS bmaxy
        FROM uimg),
      sm AS (SELECT key, srid, bminx, bminy, bmaxx, bmaxy,
                    unnest(generate_series(0, 8)) AS i FROM ubox),
      pts4 AS (
        SELECT key, srid, bminx, bminy, bmaxx, bmaxy,
               (bminx + ((CAST(i AS DOUBLE) / 8.0) * (bmaxx - bminx))) AS sx,
               (bminy + ((CAST(i AS DOUBLE) / 8.0) * (bmaxy - bminy))) AS sy
        FROM sm),
      samp AS (
        SELECT key, srid, sx AS x, bminy AS y FROM pts4
        UNION ALL SELECT key, srid, sx, bmaxy FROM pts4
        UNION ALL SELECT key, srid, bminx, sy FROM pts4
        UNION ALL SELECT key, srid, bmaxx, sy FROM pts4),
      s1 AS (
        SELECT key, srid,
               (y / $kA) AS xi, ((x - CAST(500000.0 AS DOUBLE)) / $kA) AS eta
        FROM samp),
      s2 AS (
        SELECT key, srid,
          (((xi - (${b(0)} * (sin(2.0 * xi) * ${ch("2.0 * eta")})))
              - (${b(1)} * (sin(4.0 * xi) * ${ch("4.0 * eta")})))
              - (${b(2)} * (sin(6.0 * xi) * ${ch("6.0 * eta")}))) AS xip,
          (((eta - (${b(0)} * (cos(2.0 * xi) * ${sh("2.0 * eta")})))
              - (${b(1)} * (cos(4.0 * xi) * ${sh("4.0 * eta")})))
              - (${b(2)} * (cos(6.0 * xi) * ${sh("6.0 * eta")}))) AS etap
        FROM s1),
      s3 AS (
        SELECT key, srid, xip, etap,
               asin(sin(xip) / ${ch("etap")}) AS chi
        FROM s2),
      s4 AS (
        SELECT key, srid,
          ((CASE srid WHEN 32611 THEN -117.0 ELSE 3.0 END)
            + ((atan2(${sh("etap")}, cos(xip)) * 180.0) / pi())) AS lon,
          (((((chi + (${d(0)} * sin(2.0 * chi)))
               + (${d(1)} * sin(4.0 * chi)))
               + (${d(2)} * sin(6.0 * chi))) * 180.0) / pi()) AS lat
        FROM s3)
      SELECT key, CAST(srid AS INT) AS srid,
        CAST(floor(min(lon) * 10000.0) AS BIGINT) AS minx_u,
        CAST(floor(min(lat) * 10000.0) AS BIGINT) AS miny_u,
        CAST(floor(max(lon) * 10000.0) AS BIGINT) AS maxx_u,
        CAST(floor(max(lat) * 10000.0) AS BIGINT) AS maxy_u
      FROM s4 GROUP BY key, srid"""
    }),

    // §2.8 gdaldem color-relief (apps/gdaldem_lib.cpp:1639
    // GDALColorReliefGetRGBA): all three selection modes
    // (interpolate/nearest/exact) over band 0 from ONE decode per image
    // (the focal_multi fusion discipline). Fully oracled: per-channel GDAL
    // checksums and exact int64 channel sums re-derived pixel-by-pixel in
    // DuckDB from the SAME ramp constant (see colorReliefOracle).
    ("q106_color_relief", (s: SparkSession, dir: String) => {
      val rampCol = array(ColorReliefRamp.flatMap { case (e, r, g, b, a) =>
        Seq(e, r, g, b, a).map(x => lit(x.toDouble)) }: _*)
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("c", explode(color_relief_multi(col("bytes"), col("fmt"), Tiling.meta9,
          rampCol, array(lit("interpolate"), lit("nearest"), lit("exact")))))
        .groupBy(col("c.mode").as("mode"))
        .agg(count(lit(1)).as("n"),
          sum(col("c.checksum_r").cast("bigint")).as("cr_sum"),
          sum(col("c.checksum_g").cast("bigint")).as("cg_sum"),
          sum(col("c.checksum_b").cast("bigint")).as("cb_sum"),
          sum(col("c.sum_r")).as("sum_r"),
          sum(col("c.sum_g")).as("sum_g"),
          sum(col("c.sum_b")).as("sum_b"),
          sum(col("c.sum_a")).as("sum_a"))
    }, Some(colorReliefOracle)),

    // §2.5 hillshade -combined and -multidirectional
    // (apps/gdaldem_lib.cpp:1151 GDALHillshadeCombinedAlg, :1257
    // GDALHillshadeMultiDirectionalAlg) — both modes from ONE decode via
    // focal_multi. Oracled like q35: the full shading formulas are
    // mirrored in SQL with the kernel's exact op order; the GDAL checksum
    // quantizes via floor(v+0.5), and the rational-input fixture keeps the
    // ulp-level libm-vs-JVM drift in acos/atan/sin/cos far below every
    // rounding boundary.
    ("q107_hillshade_modes", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("f", explode(focal_multi(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit("hillshade_combined"), lit("hillshade_multidirectional")))))
        .groupBy(col("f.op").as("op"))
        .agg(count(lit(1)).as("n"), sum(col("f.checksum").cast("bigint")).as("checksum_sum"))
    }, Some {
      def cv(dx: Int, dy: Int) = clampedV(dx, dy)
      val dzdx = s"((((${cv(1, -1)} + (2.0 * ${cv(1, 0)})) + ${cv(1, 1)})" +
        s" - ((${cv(-1, -1)} + (2.0 * ${cv(-1, 0)})) + ${cv(-1, 1)})) / (8.0 * res))"
      val dzdy = s"((((${cv(-1, 1)} + (2.0 * ${cv(0, 1)})) + ${cv(1, 1)})" +
        s" - ((${cv(-1, -1)} + (2.0 * ${cv(0, -1)})) + ${cv(1, -1)})) / (8.0 * res))"
      val sinAlt = "sin(radians(45.0))"; val cosAlt = "cos(radians(45.0))"
      val cos225 = "cos(radians(225.0))"
      val s2 = "((gx * gx) + (gy * gy))"
      def clampRound(f: String) =
        s"CAST(least(greatest(floor($f + 0.5), 0.0), 255.0) AS BIGINT)"
      // combined: acos of the standard cang, damped by atan(sqrt(slope))
      val numC = s"($sinAlt - ($cosAlt * ((gx * sin(radians(315.0))) + ((-(gy)) * cos(radians(315.0))))))"
      val cang = s"($numC / sqrt(1.0 + $s2))"
      val comb = s"(1.0 - ((acos($cang) * atan(sqrt($s2))) * (4.0 / (pi() * pi()))))"
      val fc = s"(CASE WHEN $comb <= 0.0 THEN 1.0 ELSE (1.0 + (254.0 * $comb)) END)"
      // multidirectional: USGS OF 92-422 four-azimuth blend on the
      // reference's (x, y) = (−gx, −gy) gradient convention
      val mx = "(-(gx))"; val my = "(-(gy))"
      def pos(t: String) = s"(CASE WHEN $t <= 0.0 THEN 0.0 ELSE $t END)"
      val t225 = s"(127.0 * ($sinAlt + ((($mx - $my) * $cos225) * $cosAlt)))"
      val t270 = s"(127.0 * ($sinAlt - ($mx * $cosAlt)))"
      val t315 = s"(127.0 * ($sinAlt + ((($mx + $my) * $cos225) * $cosAlt)))"
      val t360 = s"(127.0 * ($sinAlt - ($my * $cosAlt)))"
      val w225 = s"((0.5 * $s2) - ($mx * $my))"
      val w315 = s"($s2 - $w225)"
      val numM = s"((((($w225 * ${pos(t225)}) + (($mx * $mx) * ${pos(t270)}))" +
        s" + ($w315 * ${pos(t315)})) + (($my * $my) * ${pos(t360)})) / $s2)"
      val fm = s"(CASE WHEN $s2 = 0.0 THEN (1.0 + (254.0 * $sinAlt))" +
        s" ELSE (1.0 + ($numM / sqrt(1.0 + $s2))) END)"
      s"""
      WITH fimg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz,
          CASE WHEN (p_partkey % 8) = 1 THEN (30.0 + ((p_partkey % 7) * 15.0))
               ELSE ((CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499)))
                     / CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END)
          END AS res
        FROM part WHERE (p_partkey % 3) <> 2 AND (p_partkey % 4) <> 3),
      frows AS (SELECT key, sz, res, unnest(generate_series(0, sz - 1)) AS py FROM fimg),
      fpx AS (SELECT key, sz, res, py, unnest(generate_series(0, sz - 1)) AS px FROM frows),
      grad AS (
        SELECT key, sz, py, px, $dzdx AS gx, $dzdy AS gy
        FROM fpx),
      hv AS (
        SELECT key, sz, py, px,
          ${clampRound(fc)} AS hvc,
          ${clampRound(fm)} AS hvm
        FROM grad),
      per AS (
        SELECT key, ${checksumSql("hvc")} AS cc, ${checksumSql("hvm")} AS cm
        FROM hv GROUP BY key, sz)
      SELECT 'hillshade_combined' AS op, count(*) AS n,
             CAST(sum(cc) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'hillshade_multidirectional' AS op, count(*) AS n,
             CAST(sum(cm) AS BIGINT) AS checksum_sum FROM per"""
    }),

    // §2.5 Zevenbergen–Thorne gradient family (`-alg ZevenbergenThorne`,
    // apps/gdaldem_lib.cpp:798 Gradient<ZEVENBERGEN_THORNE>, :1390
    // GDALSlopeZevenbergenThorneAlg, GDALAspectZevenbergenThorneAlg,
    // GDALHillshadeAlg<ZT>): slope / aspect / hillshade on the 4-neighbor
    // central difference, all three from ONE decode. Fully oracled in SQL;
    // the fixture's pattern band has no flat ZT window (row/col deltas are
    // ±7/±13 mod 256, never 0), so the −9999 flat marker never fires and
    // every checksummed value is non-negative (checksumSql's precondition).
    ("q108_zt_family", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("f", explode(focal_multi(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit("slope_zt"), lit("aspect_zt"), lit("hillshade_zt")))))
        .groupBy(col("f.op").as("op"))
        .agg(count(lit(1)).as("n"), sum(col("f.checksum").cast("bigint")).as("checksum_sum"))
    }, Some {
      def cv(dx: Int, dy: Int) = clampedV(dx, dy)
      // ztGrad mirror: gx = (west − east)/res, gy = (south − north)/(−res)
      val gx = s"((${cv(-1, 0)} - ${cv(1, 0)}) / res)"
      val gy = s"((${cv(0, 1)} - ${cv(0, -1)}) / (-(res)))"
      val sv = s"CAST(floor(((atan(sqrt((gx * gx) + (gy * gy)) * 0.5) * 180.0) / pi()) + 0.5) AS BIGINT)"
      // aspectZT mirror: raw unscaled central differences, azimuth fold
      val dxa = s"(${cv(1, 0)} - ${cv(-1, 0)})"
      val dya = s"(${cv(0, 1)} - ${cv(0, -1)})"
      val rawA = "((atan2(dya, -(dxa)) * 180.0) / pi())"
      val av = s"CAST(floor((CASE WHEN rawa > 90.0 THEN (450.0 - rawa) ELSE (90.0 - rawa) END) + 0.5) AS BIGINT)"
      // hillshadeZT mirror: z-factor 1/2 folded into the gradients
      val sinAlt = "sin(radians(45.0))"; val cosAlt = "cos(radians(45.0))"
      val sinAz = "sin(radians(315.0))"; val cosAz = "cos(radians(315.0))"
      val cang = s"(($sinAlt - ((gyh * ($cosAz * $cosAlt)) - (gxh * ($sinAz * $cosAlt))))" +
        s" / sqrt(1.0 + ((gxh * gxh) + (gyh * gyh))))"
      val hv = s"CAST(CASE WHEN (254.0 * $cang) <= 0.0 THEN 1" +
        s" ELSE least(floor((1.0 + (254.0 * $cang)) + 0.5), 255.0) END AS BIGINT)"
      s"""
      WITH fimg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz,
          CASE WHEN (p_partkey % 8) = 1 THEN (30.0 + ((p_partkey % 7) * 15.0))
               ELSE ((CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499)))
                     / CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END)
          END AS res
        FROM part WHERE (p_partkey % 3) <> 2 AND (p_partkey % 4) <> 3),
      frows AS (SELECT key, sz, res, unnest(generate_series(0, sz - 1)) AS py FROM fimg),
      fpx AS (SELECT key, sz, res, py, unnest(generate_series(0, sz - 1)) AS px FROM frows),
      zt AS (
        SELECT key, sz, py, px, $gx AS gx, $gy AS gy,
               (0.5 * $gx) AS gxh, (0.5 * $gy) AS gyh,
               $dxa AS dxa, $dya AS dya
        FROM fpx),
      zt2 AS (SELECT key, sz, py, px, gx, gy, gxh, gyh, $rawA AS rawa FROM zt),
      vals AS (
        SELECT key, sz, py, px, $sv AS sv, $av AS av, $hv AS hv
        FROM zt2),
      per AS (
        SELECT key, ${checksumSql("sv")} AS cs, ${checksumSql("av")} AS ca,
               ${checksumSql("hv")} AS ch
        FROM vals GROUP BY key, sz)
      SELECT 'slope_zt' AS op, count(*) AS n, CAST(sum(cs) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'aspect_zt' AS op, count(*) AS n, CAST(sum(ca) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'hillshade_zt' AS op, count(*) AS n, CAST(sum(ch) AS BIGINT) AS checksum_sum FROM per"""
    }),

    // §2.5 TPI + both reference TRI variants (gdaldem TRI default = Riley,
    // apps/gdaldem_lib.cpp:2332; -alg Wilson = :2317; TPI = :2352) per
    // image from ONE decode. Fully oracled per image: every per-pixel
    // value is dyadic (k/8) or floor(sqrt(int)+0.5) — exact under IEEE
    // double in both engines — and the GDAL float-path checksum is
    // re-derived with SIGNED mod semantics (TPI planes go negative; the
    // reference's per-line `&= 0xffff` on a C int ≡ mathematical
    // mod 65536 normalized to [0,65535], which plain `% 65536` on a
    // negative DuckDB sum is NOT — hence the +65536 renormalize).
    ("q109_tpi_tri", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("fmt") =!= "jpeg" && col("w") <= 64)
        .withColumn("f", explode(focal_multi(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit("tpi"), lit("tri"), lit("tri_riley")))))
        .select(col("key"), col("f.op").as("op"), col("f.checksum").as("checksum"))
    }, Some {
      def cv(dx: Int, dy: Int) = clampedV(dx, dy)
      val nbrs = for { dy <- -1 to 1; dx <- -1 to 1; if dx != 0 || dy != 0 } yield (dx, dy)
      val s8 = nbrs.map { case (dx, dy) => cv(dx, dy) }.mkString("(", " + ", ")")
      val sa = nbrs.map { case (dx, dy) => s"abs(${cv(0, 0)} - ${cv(dx, dy)})" }
        .mkString("(", " + ", ")")
      val sq = nbrs.map { case (dx, dy) =>
        s"((${cv(0, 0)} - ${cv(dx, dy)}) * (${cv(0, 0)} - ${cv(dx, dy)}))"
      }.mkString("(", " + ", ")")
      def signedCks(v: String) =
        s"CAST((((sum(($v) % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + px) % 11) + 1]) % 65536) + 65536) % 65536) AS INT)"
      s"""
      WITH $PixCte,
      vals AS (
        SELECT key, sz, py, px,
          CAST(floor((CAST(${cv(0, 0)} AS DOUBLE) - (CAST($s8 AS DOUBLE) / 8.0)) + 0.5) AS BIGINT) AS tpiv,
          CAST(floor((CAST($sa AS DOUBLE) / 8.0) + 0.5) AS BIGINT) AS triwv,
          CAST(floor(sqrt(CAST($sq AS DOUBLE)) + 0.5) AS BIGINT) AS trirv
        FROM ppx)
      SELECT key, 'tpi' AS op, ${signedCks("tpiv")} AS checksum FROM vals GROUP BY key, sz
      UNION ALL
      SELECT key, 'tri' AS op, ${signedCks("triwv")} AS checksum FROM vals GROUP BY key, sz
      UNION ALL
      SELECT key, 'tri_riley' AS op, ${signedCks("trirv")} AS checksum FROM vals GROUP BY key, sz"""
    }),

    // §2.5 Horn aspect (apps/gdaldem_lib.cpp GDALAspectAlg: compass
    // degrees from north, flat → −9999) + percent slope (GDALSlopeHornAlg
    // slopeFormat 0, the `-p` mode) — the last DEM derivatives without a
    // value oracle. The SQL mirrors the exact op order (atan2 → ·180/π
    // in that order, the Java toDegrees expansion → 90−az → ±360 fold;
    // percent = 100·(z·sqrt((gx·gx)+(gy·gy))) — plain sqrt, not hypot,
    // so both engines round identically); the fixture's integer pattern
    // makes Horn numerators 56−256k ≠ 0, so no pixel is gradient-flat,
    // but the CASE mirrors the branch anyway. Signed checksum: −9999
    // mods are negative (see q109).
    ("q110_aspect", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("f", explode(focal_multi(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit("aspect"), lit("slope_percent")))))
        .select(col("key"), col("f.op").as("op"),
          (col("w").cast("long") * col("h").cast("long")).as("n"),
          col("f.checksum").as("checksum"))
    }, Some {
      def cv(dx: Int, dy: Int) = clampedV(dx, dy)
      val dzdx = s"((((${cv(1, -1)} + (2.0 * ${cv(1, 0)})) + ${cv(1, 1)})" +
        s" - ((${cv(-1, -1)} + (2.0 * ${cv(-1, 0)})) + ${cv(-1, 1)})) / (8.0 * res))"
      val dzdy = s"((((${cv(-1, 1)} + (2.0 * ${cv(0, 1)})) + ${cv(1, 1)})" +
        s" - ((${cv(-1, -1)} + (2.0 * ${cv(0, -1)})) + ${cv(1, -1)})) / (8.0 * res))"
      def signedCks(v: String) =
        s"CAST((((sum(($v) % ([7,11,13,17,19,23,29,31,37,41,43])[(((py * sz) + px) % 11) + 1]) % 65536) + 65536) % 65536) AS INT)"
      s"""
      WITH fimg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END AS sz,
          CASE WHEN (p_partkey % 8) = 1 THEN (30.0 + ((p_partkey % 7) * 15.0))
               ELSE ((CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499)))
                     / CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 64 END)
          END AS res
        FROM part WHERE (p_partkey % 3) <> 2 AND (p_partkey % 4) <> 3),
      frows AS (SELECT key, sz, res, unnest(generate_series(0, sz - 1)) AS py FROM fimg),
      fpx AS (SELECT key, sz, res, py, unnest(generate_series(0, sz - 1)) AS px FROM frows),
      grad AS (SELECT key, sz, py, px, $dzdx AS gx, $dzdy AS gy FROM fpx),
      comp AS (
        SELECT key, sz, py, px, gx, gy,
          (90.0 - ((atan2(gy, -(gx)) * 180.0) / pi())) AS c
        FROM grad),
      vals AS (
        SELECT key, sz, py, px,
          CAST(floor((CASE WHEN (gx = 0.0 AND gy = 0.0) THEN -9999.0
                           WHEN c < 0.0 THEN (c + 360.0)
                           WHEN c >= 360.0 THEN (c - 360.0)
                           ELSE c END) + 0.5) AS BIGINT) AS av,
          CAST(floor((100.0 * (1.0 * sqrt((gx * gx) + (gy * gy)))) + 0.5) AS BIGINT) AS spv
        FROM comp)
      SELECT key, 'aspect' AS op, CAST(CAST(sz AS BIGINT) * sz AS BIGINT) AS n,
             ${signedCks("av")} AS checksum
      FROM vals GROUP BY key, sz
      UNION ALL
      SELECT key, 'slope_percent' AS op, CAST(CAST(sz AS BIGINT) * sz AS BIGINT) AS n,
             ${signedCks("spv")} AS checksum
      FROM vals GROUP BY key, sz"""
    }),

    // §2.5 focal neighborhood statistics — the `gdal raster neighbors`
    // method surface beyond mean/sum (apps/gdalalg_raster_neighbors.cpp:207
    // min | max | stddev | median | mode, executed by
    // VRTKernelFilteredSource, frmts/vrt/vrtfilters.cpp:485): all five
    // stats per image from ONE decode. Fully oracled: min/max/median/mode
    // of 9 small integers are exact in both engines; the mode tie-break
    // (the value whose RUNNING count first reaches the final max, in
    // row-major window visit order) is re-derived relationally as first
    // by (count DESC, last-occurrence position ASC); stddev is population
    // sqrt(M2/9), whose algebraic mirror sqrt(9·Σv² − (Σv)²)/9 agrees to
    // ulps while the nearest floor(v+0.5) boundary is ≥6e-6 away (the
    // radicand is an integer whose boundary form 81(2k+1)²/4 is never
    // integral — see Focal.neighborStat's Scaladoc).
    ("q111_focal_stats", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("f", explode(focal_multi(col("bytes"), col("fmt"), Tiling.meta9,
          array(lit("focal_min"), lit("focal_max"), lit("focal_median"),
            lit("focal_mode"), lit("focal_stddev")))))
        .groupBy(col("f.op").as("op"))
        .agg(count(lit(1)).as("n"), sum(col("f.checksum").cast("bigint")).as("checksum_sum"))
    }, Some {
      def cv(dx: Int, dy: Int) = clampedV(dx, dy)
      // reference visit order: row offset outer (−1..1), column inner
      val nine = for { dy <- -1 to 1; dx <- -1 to 1 } yield cv(dx, dy)
      val lst = nine.mkString("[", ", ", "]")
      val mn = nine.mkString("least(", ", ", ")")
      val mx = nine.mkString("greatest(", ", ", ")")
      val s1 = nine.mkString("(", " + ", ")")
      val s2 = nine.map(v => s"($v * $v)").mkString("(", " + ", ")")
      s"""
      WITH $PixCte,
      nbl AS (SELECT key, sz, py, px, $lst AS l FROM ppx),
      scal AS (
        SELECT key, sz, py, px,
          CAST($mn AS BIGINT) AS mnv,
          CAST($mx AS BIGINT) AS mxv,
          CAST(list_sort(l)[5] AS BIGINT) AS medv,
          CAST(floor((sqrt(CAST(((9 * $s2) - ($s1 * $s1)) AS DOUBLE)) / 9.0) + 0.5) AS BIGINT) AS sdv
        FROM nbl),
      nb AS (SELECT key, sz, py, px, u.i AS pos, l[u.i] AS val
             FROM nbl CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i) u),
      mcnt AS (SELECT key, sz, py, px, val, count(*) AS c, max(pos) AS lastp
               FROM nb GROUP BY key, sz, py, px, val),
      mpick AS (SELECT key, sz, py, px, val,
                row_number() OVER (PARTITION BY key, sz, py, px
                                   ORDER BY c DESC, lastp ASC) AS rn
                FROM mcnt),
      vals AS (
        SELECT a.key, a.sz, a.py, a.px, a.mnv, a.mxv, a.medv, a.sdv,
               CAST(m.val AS BIGINT) AS mov
        FROM scal a
        JOIN mpick m ON m.key = a.key AND m.sz = a.sz AND m.py = a.py
                    AND m.px = a.px AND m.rn = 1),
      per AS (
        SELECT key, ${checksumSql("mnv")} AS c_mn, ${checksumSql("mxv")} AS c_mx,
               ${checksumSql("medv")} AS c_med, ${checksumSql("mov")} AS c_mo,
               ${checksumSql("sdv")} AS c_sd
        FROM vals GROUP BY key, sz)
      SELECT 'focal_min' AS op, count(*) AS n, CAST(sum(c_mn) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'focal_max' AS op, count(*) AS n, CAST(sum(c_mx) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'focal_median' AS op, count(*) AS n, CAST(sum(c_med) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'focal_mode' AS op, count(*) AS n, CAST(sum(c_mo) AS BIGINT) AS checksum_sum FROM per
      UNION ALL
      SELECT 'focal_stddev' AS op, count(*) AS n, CAST(sum(c_sd) AS BIGINT) AS checksum_sum FROM per"""
    }),

    // §2.8 raster blend — the `gdal raster blend` composition surface
    // (apps/gdalalg_raster_blend.cpp): Porter-Duff src-over plus the
    // Mapserver generic operators (multiply screen overlay hard-light
    // darken lighten color-dodge color-burn) at 60% opacity, and the RGBA
    // src-over SIMD fast path (gTabInvDstA reciprocal rounding) — all
    // byte-exact integer algebra, re-derived per pixel in SQL. The overlay
    // is the horizontally-flipped self (closed-form on the synthetic
    // pattern), the RGBA tuple (v,hflip,vflip,rot180) vs its reverse —
    // per-row, no join, one decode. hsv-value (float32) is spec-pinned in
    // BlendSpec instead.
    ("q112_raster_blend", (s: SparkSession, dir: String) => {
      Fixtures.imagesFromParts(s, dir)
        .filter(col("w") <= 64 && col("fmt") =!= "jpeg")
        .withColumn("f", explode(blend_self(col("bytes"), col("fmt"), Tiling.meta9,
          array((graft.core.Blend.Modes :+ "src-over-rgba").map(lit): _*), lit(60))))
        .groupBy(col("f.op").as("op"))
        .agg(count(lit(1)).as("n"), sum(col("f.checksum").cast("bigint")).as("checksum_sum"),
          sum(col("f.sum")).as("sum_sum"))
    }, Some {
      // exact SQL mirrors of core/Blend.scala's byte algebra (op255 = 153)
      def mul(a: String, b: String) = s"((($a) * ($b) + 255) // 256)"
      def byte(x: String) = s"(((($x) % 256) + 256) % 256)"
      def divq(a: String, b: String) =
        s"(CASE WHEN ($a) = 0 THEN 0 WHEN ($b) = 0 THEN 255 ELSE (($a) * 255) // ($b) END)"
      val z = mul("oc", "0") // Dca.(1-Sa) with Sa=255 — identically 0, kept for fidelity
      val t1 = mul("v", "102") // Sca.(1-Da) analog: base channel times (255-153)
      val modeSql: Seq[(String, String)] = Seq(
        "src-over" -> "((hf * 153 + v * 102 + 255) // 256)",
        "multiply" -> byte(s"${mul("v", "oc")} + $t1 + $z"),
        "screen" -> byte(s"v + oc - ${mul("v", "oc")}"),
        "overlay" -> (s"(CASE WHEN 2 * v < 255 THEN ${byte(s"2 * ${mul("v", "oc")} + $t1 + $z")} " +
          s"ELSE ${byte(s"153 - 2 * ${mul("255 - v", "153 - oc")} + $t1 + $z")} END)"),
        "hard-light" -> (s"(CASE WHEN 2 * oc < 153 THEN ${byte(s"2 * ${mul("oc", "v")} + ${mul("oc", "0")} + $t1")} " +
          s"ELSE ${byte(s"153 - 2 * ${mul("153 - oc", "255 - v")} + ${mul("oc", "0")} + $t1")} END)"),
        "darken" -> byte(s"least(${mul("oc", "255")}, ${mul("v", "153")}) + $t1 + $z"),
        "lighten" -> byte(s"greatest(${mul("oc", "255")}, ${mul("v", "153")}) + $t1 + $z"),
        "color-dodge" -> (s"(CASE WHEN ${mul("oc", "255")} + ${mul("v", "153")} >= 153 THEN ${byte(s"153 + $t1 + $z")} " +
          s"ELSE ${byte(s"${divq(mul("v", "153"), s"255 - ${divq("oc", "153")}")} + $t1 + $z")} END)"),
        "color-burn" -> (s"(CASE WHEN ${mul("oc", "255")} + ${mul("v", "153")} <= 153 THEN ${byte(s"$t1 + $z")} " +
          s"ELSE ${byte(s"${mul("153", byte(s"${divq("v", "255")} + ${divq("oc", "153")} - 255"))} + $t1 + $z")} END)"))
      // RGBA src-over fast path: base (v,hf,vfv | alpha rot), overlay (rot,vfv,hf | alpha v)
      def chan(c: String, o: String) =
        byte(s"((((($o) * ova + ($c) * srcamul + 255) // 256) * inv + 255) // 256)")
      val rgbaSql: Seq[(String, String)] = Seq(
        "src-over-rgba_r" -> chan("v", "rot"), "src-over-rgba_g" -> chan("hf", "vfv"),
        "src-over-rgba_b" -> chan("vfv", "hf"), "src-over-rgba_a" -> "dsta")
      val all = modeSql ++ rgbaSql
      val outCols = all.map { case (op, e) => s"$e AS ${opCol(op)}" }.mkString(",\n          ")
      val perCols = all.map { case (op, _) =>
        s"${checksumSql(opCol(op))} AS c_${opCol(op)}, CAST(sum(${opCol(op)}) AS BIGINT) AS s_${opCol(op)}"
      }.mkString(",\n          ")
      val unions = all.map { case (op, _) =>
        s"SELECT '$op' AS op, count(*) AS n, CAST(sum(c_${opCol(op)}) AS BIGINT) AS checksum_sum, " +
          s"CAST(sum(s_${opCol(op)}) AS BIGINT) AS sum_sum FROM per"
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH $PixCte,
      planes AS (
        SELECT key, sz, py, px,
          ((px * 7) + (py * 13) + (key * 31)) % 256 AS v,
          (((sz - 1 - px) * 7) + (py * 13) + (key * 31)) % 256 AS hf,
          ((px * 7) + ((sz - 1 - py) * 13) + (key * 31)) % 256 AS vfv,
          (((sz - 1 - px) * 7) + ((sz - 1 - py) * 13) + (key * 31)) % 256 AS rot
        FROM ppx),
      pre AS (
        SELECT *, ${mul("hf", "153")} AS oc,
          ((v * 153 + 255) // 256) AS ova
        FROM planes),
      pre2 AS (
        SELECT *, ((rot * (255 - ova) + 255) // 256) AS srcamul FROM pre),
      pre3 AS (
        SELECT *, (ova + srcamul) AS dsta,
          (CASE WHEN (ova + srcamul) = 0 THEN 0
                ELSE (65280 + (ova + srcamul) // 2) // (ova + srcamul) END) AS inv
        FROM pre2),
      outs AS (
        SELECT key, sz, py, px,
          $outCols
        FROM pre3),
      per AS (
        SELECT key,
          $perCols
        FROM outs GROUP BY key, sz)
      $unions"""
    }),

    // §2.3 skew profile of the PIP-join key: points-per-cell quantiles at
    // level 7 — the monitoring query a 100 TB ingest runs before planning
    // the cell equi-join of SpatialJoin.join, which meets each (point,
    // polygon) pair on the point's one cell (geometry pairs on their
    // canonical cell): p99/p100 vs mean says how hot the hottest cells are
    // and whether AQE skew splitting suffices. Exact
    // via ops.Quantiles' histogram shape: the shuffle carries one row per
    // occupied cell, then one row per distinct per-cell count. Oracle
    // re-derives the level-7 cell grid (the q157 arithmetic at 128×128)
    // and the same inverse-CDF integer comparisons.
    ("q169_cell_skew_profile", (s: SparkSession, dir: String) => {
      // per_cell stays LONG: at 10^12 points a hot level-7 cell exceeds
      // Int.MaxValue, and an int cast would throw under ANSI (or wrap
      // negative) exactly in the extreme-skew regime this query detects
      val counts = Fixtures.pointsFromOrders(s, dir)
        .select(cell_of(col("lon"), col("lat"), 7).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("per_cell"))
        .select(lit(0L).as("grp"), col("per_cell").as("v"))
      graft.ops.Quantiles.profile(counts, "grp", "v", Seq(50, 90, 99, 100))
        .select(col("n").as("occupied_cells"),
          col("p50"), col("p90"), col("p99"), col("p100"))
    }, Some(s"""
      WITH $PtsCte,
      cc AS (
        SELECT
          CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 128.0), 0.0), 127.0) AS BIGINT) AS cx,
          CAST(least(greatest(floor(((90.0 - lat) / 180.0) * 128.0), 0.0), 127.0) AS BIGINT) AS cy
        FROM pts),
      pc AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS v FROM cc GROUP BY cx, cy),
      c2 AS (SELECT v, count(*) AS c FROM pc GROUP BY v),
      cum AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM c2),
      t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c2)
      SELECT t.n AS occupied_cells,
        CAST(min(CASE WHEN 100 * cum.cum >= 50 * t.n THEN cum.v END) AS BIGINT) AS p50,
        CAST(min(CASE WHEN 100 * cum.cum >= 90 * t.n THEN cum.v END) AS BIGINT) AS p90,
        CAST(min(CASE WHEN 100 * cum.cum >= 99 * t.n THEN cum.v END) AS BIGINT) AS p99,
        CAST(min(CASE WHEN 100 * cum.cum >= 100 * t.n THEN cum.v END) AS BIGINT) AS p100
      FROM cum, t GROUP BY t.n""")),

    // §2.3 H3-style hexagonal binning (core.Hex — the north star names
    // H3/S2; quadkey cells are the join-key workhorse, hexes add the
    // uniform-adjacency density binning H3 is used for). Pointy-top
    // axial coords + canonical cube-round, every step plain IEEE doubles
    // in a fixed op order with explicit floor(v+0.5) rounding — so the
    // oracle replays the WHOLE kernel (axial transform, cube round,
    // largest-error repair) bit-for-bit in SQL.
    ("q170_hex_bin", (s: SparkSession, dir: String) => {
      Fixtures.pointsFromOrders(s, dir)
        .select(hex_of(col("lon"), col("lat"), 4.0).as("hex"))
        .groupBy(col("hex")).agg(count(lit(1)).as("n"))
        .select((shiftright(col("hex"), 21) - lit(1L << 20)).as("hexq"),
          (col("hex").bitwiseAND(lit((1L << 21) - 1L)) - lit(1L << 20)).as("hexr"),
          col("n"))
    }, Some(s"""
      WITH $PtsCte,
      $HexBinCtes
      SELECT hexq, hexr, n FROM bins""")),

    // Hex neighborhood smoothing — the classic H3 density operation:
    // each occupied hex's count is averaged with its 6 axial neighbors
    // (sum7 over the 1-disk; nbrs = occupied members). Adjacency rides
    // PACKED-ID ARITHMETIC: pack(q+dq, r+dr) = hex + (dq<<21) + dr (no
    // carry across the 21-bit field within the enforced bounds), so the
    // whole smoothing is explode(7 offsets) + one hash aggregation + a
    // join back to occupied bins — no geometry, no udf. Oracle: the
    // q170 bin chain + a 7-row offset join on (q, r).
    ("q171_hex_smooth", (s: SparkSession, dir: String) => {
      val offsets = (0, 0) +: graft.core.Hex.Directions
      val bins = graft.pipeline.Caches.persist(
        Fixtures.pointsFromOrders(s, dir)
          .select(hex_of(col("lon"), col("lat"), 4.0).as("hex"))
          .groupBy(col("hex")).agg(count(lit(1)).as("n")))
      val contrib = bins.select(
        explode(array(offsets.map { case (dq, dr) =>
          col("hex") + lit((dq.toLong << 21) + dr) }: _*)).as("tgt"), col("n"))
      val smoothed = contrib.groupBy(col("tgt"))
        .agg(sum(col("n")).as("sum7"), count(lit(1)).as("nbrs"))
      bins.join(smoothed, col("hex") === col("tgt"))
        .select((shiftright(col("hex"), 21) - lit(1L << 20)).as("hexq"),
          (col("hex").bitwiseAND(lit((1L << 21) - 1L)) - lit(1L << 20)).as("hexr"),
          col("n"), col("sum7"), col("nbrs").cast("int").as("nbrs"))
    }, Some(s"""
      WITH $PtsCte,
      $HexBinCtes,
      off(dq, dr) AS (VALUES ${((0, 0) +: graft.core.Hex.Directions)
        .map { case (dq, dr) => s"($dq, $dr)" }.mkString(", ")})
      SELECT t.hexq, t.hexr, t.n,
        CAST(sum(s.n) AS BIGINT) AS sum7, CAST(count(*) AS INT) AS nbrs
      FROM bins t JOIN off o ON true
      JOIN bins s ON s.hexq = t.hexq + o.dq AND s.hexr = t.hexr + o.dr
      GROUP BY t.hexq, t.hexr, t.n""")),

    // §2.3 the PIP join keyed on HEX cells — the cell-system-agnostic
    // index claim made concrete: same SpatialJoin.join as q22 on Hex cells,
    // candidates from hex_cover (center-in-expanded-box, recall-safe by
    // the circumradius bound), exact PIP refine. The oracle is q22's
    // DIRECT theta join — result parity proves the hex cover misses
    // nothing (a recall bug = missing rows, not a tolerated approximation).
    ("q172_hex_pip_join", (s: SparkSession, dir: String) => {
      val pts = Fixtures.pointsFromOrders(s, dir).select("point_id", "lon", "lat")
      val regions = Fixtures.regionBoxes(s, dir)
      SpatialJoin.join(pts, regions, st_contains_point(col("wkb"), col("lon"), col("lat")),
          Hex(4.0))
        .select(col("point_id"), col("region_id"))
    }, Some(s"""
      WITH $PtsCte
      $RegionThetaSql"""))
  )

  /** safe SQL column suffix for a blend op name. */
  private def opCol(op: String): String = op.replace("-", "_")

  /** q97/q81 shared pansharpen mirror: the synthetic pan band, 2x ms
    * downsample, quarter-offset bilinear upsample, 1/3-weight pseudo-pan,
    * ratio multiply and clamp, op-for-op in SQL (ends with `sharp`). */
  private def pansharpenSharpCte: String = """keys AS (
        SELECT p_partkey AS k,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END AS sz
        FROM part
        WHERE (p_partkey % 2) = 1 AND (p_partkey % 3) <> 2),
      k2 AS (SELECT k, sz, sz // 2 AS mw FROM keys WHERE sz <= 64),
      -- 2x-downsampled ms band (all source bands are the same pattern):
      -- floor(mean-of-2x2-block + 0.5), blocks always full (sz even)
      g1 AS (SELECT k, sz, mw, unnest(generate_series(0, mw - 1)) AS mx FROM k2),
      g2 AS (SELECT k, sz, mw, mx, unnest(generate_series(0, mw - 1)) AS my FROM g1),
      msg AS (
        SELECT k, mx, my,
          CAST(floor((CAST(
            (((2*mx)*7   + (2*my)*13   + k*31) % 256) +
            (((2*mx+1)*7 + (2*my)*13   + k*31) % 256) +
            (((2*mx)*7   + (2*my+1)*13 + k*31) % 256) +
            (((2*mx+1)*7 + (2*my+1)*13 + k*31) % 256)
            AS DOUBLE) / 4) + 0.5) AS BIGINT) AS m
        FROM g2),
      -- pan-resolution pixel grid with bilinear source cell + dyadic weights
      p1 AS (SELECT k, sz, mw, unnest(generate_series(0, sz - 1)) AS x FROM k2),
      p2 AS (SELECT k, sz, mw, x, unnest(generate_series(0, sz - 1)) AS y FROM p1),
      pxc AS (
        SELECT k, sz, x, y,
          ((x*7 + y*13 + k*31) % 256) AS pan,
          CASE WHEN x % 2 = 0 THEN x//2 - 1 ELSE (x - 1)//2 END AS x0,
          CASE WHEN y % 2 = 0 THEN y//2 - 1 ELSE (y - 1)//2 END AS y0,
          CASE WHEN x % 2 = 0 THEN CAST(0.75 AS DOUBLE) ELSE CAST(0.25 AS DOUBLE) END AS tx,
          CASE WHEN y % 2 = 0 THEN CAST(0.75 AS DOUBLE) ELSE CAST(0.25 AS DOUBLE) END AS ty,
          mw
        FROM p2),
      bil AS (
        SELECT p.k, p.sz, p.x, p.y, p.pan,
          ((((m00.m * (CAST(1 AS DOUBLE) - p.tx)) * (CAST(1 AS DOUBLE) - p.ty))
            + ((m10.m * p.tx) * (CAST(1 AS DOUBLE) - p.ty)))
            + ((m01.m * (CAST(1 AS DOUBLE) - p.tx)) * p.ty))
            + ((m11.m * p.tx) * p.ty) AS u
        FROM pxc p
        JOIN msg m00 ON m00.k = p.k AND m00.mx = greatest(0, least(p.mw - 1, p.x0))
                     AND m00.my = greatest(0, least(p.mw - 1, p.y0))
        JOIN msg m10 ON m10.k = p.k AND m10.mx = greatest(0, least(p.mw - 1, p.x0 + 1))
                     AND m10.my = greatest(0, least(p.mw - 1, p.y0))
        JOIN msg m01 ON m01.k = p.k AND m01.mx = greatest(0, least(p.mw - 1, p.x0))
                     AND m01.my = greatest(0, least(p.mw - 1, p.y0 + 1))
        JOIN msg m11 ON m11.k = p.k AND m11.mx = greatest(0, least(p.mw - 1, p.x0 + 1))
                     AND m11.my = greatest(0, least(p.mw - 1, p.y0 + 1))),
      sharp AS (
        SELECT k, sz, x, y,
          CASE WHEN v0 < 0 THEN 0 WHEN v0 > 255 THEN 255 ELSE v0 END AS v
        FROM (
          SELECT k, sz, x, y,
            CAST(floor((u * (CASE WHEN pseudo = 0 THEN CAST(0 AS DOUBLE)
                             ELSE CAST(pan AS DOUBLE) / pseudo END)) + 0.5) AS BIGINT) AS v0
          FROM (
            SELECT k, sz, x, y, pan, u,
              (((u * (CAST(1 AS DOUBLE)/3)) + (u * (CAST(1 AS DOUBLE)/3)))
                + (u * (CAST(1 AS DOUBLE)/3))) AS pseudo
            FROM bil)))"""

  /** q88/q103 shared oracle: the plane fixture makes every node's linear
    * estimate the closed-form plane value (3·lon + 7·lat + 10). */
  private def gridLinearPlaneOracle: String = """
      SELECT CAST(s_suppkey AS BIGINT) AS t_id,
             CAST(round((
               (CAST((s_suppkey * 37) % 2301 AS DOUBLE) / 100.0 + 0.3) * 3.0 +
               (CAST((s_suppkey * 53) % 2301 AS DOUBLE) / 100.0 + 0.3) * 7.0
               + 10.0) * 256.0) AS BIGINT) AS est_q
      FROM supplier"""

  /** q31/q101 shared structure oracle: tile ids, quadkeys and 4-fan-in
    * contribution counts of the z2..z5 pyramid re-derived in SQL. */
  private def tilePyramidStructureSql: String = {
    val qkCase = (2 to 5).map(z =>
      s"WHEN $z THEN ${quadkeySql("x", "y", z)}").mkString("CASE z ", " ", " END")
    s"""
      WITH timg AS (
        SELECT p_partkey AS key,
          CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END AS sz,
          (CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499))) AS span,
          ((((p_partkey * 9973) % 350000) / 1000.0) - 180.0) AS lon0,
          ((((p_partkey * 7919) % 160000) / 1000.0) - 80.0) AS lat0
        FROM part WHERE (p_partkey % 10) = 0),
      tenv AS (
        SELECT key, lon0 AS minx, (lat0 + (sz * (-(span / sz)))) AS miny,
               (lon0 + (sz * (span / sz))) AS maxx, lat0 AS maxy
        FROM timg),
      tm AS (
        SELECT key,
          (minx * $MercC) AS mx0, (maxx * $MercC) AS mx1,
          ${mercY("miny")} AS my0, ${mercY("maxy")} AS my1
        FROM tenv),
      trange AS (
        SELECT key,
          CAST(least(greatest(floor((((mx0 - $OriginX) / ${spanZ("5")}) + 0.001)), 0.0), 31.0) AS BIGINT) AS tx0,
          CAST(least(greatest(floor((((mx1 - $OriginX) / ${spanZ("5")}) + 0.001)), 0.0), 31.0) AS BIGINT) AS tx1,
          CAST(least(greatest(floor(((($OriginY - my1) / ${spanZ("5")}) + 0.001)), 0.0), 31.0) AS BIGINT) AS ty0,
          CAST(least(greatest(floor(((($OriginY - my0) / ${spanZ("5")}) + 0.001)), 0.0), 31.0) AS BIGINT) AS ty1
        FROM tm),
      zz AS (SELECT key, tx0, tx1, ty0, ty1, unnest(generate_series(2, 5)) AS z FROM trange),
      zs AS (SELECT key, tx0, tx1, ty0, ty1, z, (5 - z) AS shift FROM zz),
      cx AS (SELECT key, tx0, tx1, ty0, ty1, z, shift,
                    unnest(generate_series(tx0 >> shift, tx1 >> shift)) AS x FROM zs),
      cxy AS (SELECT key, tx0, tx1, ty0, ty1, z, shift, x,
                     unnest(generate_series(ty0 >> shift, ty1 >> shift)) AS y FROM cx),
      contrib AS (
        SELECT z, x, y,
          (((least(tx1, (((x + 1) << shift) - 1)) - greatest(tx0, (x << shift))) + 1)
           * ((least(ty1, (((y + 1) << shift) - 1)) - greatest(ty0, (y << shift))) + 1)) AS pairs
        FROM cxy)
      SELECT CAST(z AS INT) AS z, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
             $qkCase AS qk,
             CAST(sum(pairs) AS BIGINT) AS n_images,
             TRUE AS has_png
      FROM contrib GROUP BY z, x, y"""
  }

  /** Flagship pipeline: decode→footprint→cells→PIP-join→tile-assign →
    * per-zoom summary (every north-rule noun in one plan). */
  def flagship(s: SparkSession, dir: String): DataFrame = {
    val images = Fixtures.imagesFromParts(s, dir)
      .withColumn("stats", image_stats(col("bytes"), col("fmt"), col("w"), col("h")))
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
    val regions = Fixtures.regionBoxes(s, dir)
    val joined = SpatialJoin.join(images, regions, st_intersects_env(col("wkb"), col("env")), Quad(5))
    joined
      .withColumn("tile", explode(tile_cover(col("env"), 0, 4)))
      .groupBy(tile_z(col("tile")).as("z"))
      .agg(countDistinct(col("key")).as("n_images"),
        countDistinct(col("region_id")).as("n_regions"),
        count(lit(1)).as("n_assignments"))
      .orderBy(col("z"))
  }
}

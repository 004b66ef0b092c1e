package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input synthesis. Every value is a pure function of (seed, index),
  * so the same seed yields the same inputs under any partitioning. */
object Inputs {
  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for stream `k` of item `i` under `seed`. */
  def unit(seed: Long, k: Int, i: Long): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + k) ^ i) >>> 11) / 9007199254740992.0 // 2^53

  /** The corpus is a window of consecutive keys at a seeded offset in
    * [0, 2^36). `Fixtures.genImage` is pure in its key and derives size,
    * format, band count, CRS and footprint span from the key modulo 2, 3,
    * 4, 8, 16 and 499. The offset is a multiple of 16·3·499, so every seed
    * gets the same sequence of those, and the stored result size does not
    * swing with the seed; the seed moves footprint positions and pixels. */
  def corpusKey(seed: Long, i: Long): Long =
    (mix(seed ^ 0x5DEECE66DL) & ((1L << 36) - 1)) / KeyAlign * KeyAlign + i

  private val KeyAlign = 16L * 3 * 499

  /** `n` fixture images (Fixtures.ImageRow columns, `key` included). */
  def corpus(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long]
      .map(i => graft.gen.Fixtures.genImage(corpusKey(seed, i))).toDF()
  }

  // pip_join layout: HotSpots fixed 1° hot squares, each centred in one
  // level-7 cell. The cells are fixed so that seeds vary the sample, not
  // which reduce partition the hot cells happen to share.
  val CellLevel = 7 // CellJoinRule's default level
  private val CellW = 360.0 / (1 << CellLevel)
  private val CellH = 180.0 / (1 << CellLevel)
  private val HotPlaces = Seq((-0.1, 51.5), (-74.0, 40.7), (139.7, 35.7), (-46.6, -23.5))
  val HotSpots: Int = HotPlaces.length
  val HotBoxSide = 0.3

  /** Centre of hot spot `h`: the centre of the level-7 cell holding its place. */
  def hotCentre(h: Int): (Double, Double) = {
    val (lon, lat) = HotPlaces(h)
    (-180.0 + (graft.core.CellIndex.cellX(lon, CellLevel) + 0.5) * CellW,
      90.0 - (graft.core.CellIndex.cellY(lat, CellLevel) + 0.5) * CellH)
  }

  /** Point `i`: odd ids fall in the hot square (±0.5°) of a seeded hot spot,
    * even ids spread uniformly over lon [-180, 180), lat [-85, 85). */
  def point(seed: Long, i: Long): (Double, Double) =
    if ((i & 1L) == 1L) {
      val (cx, cy) = hotCentre(((mix(seed + i) & Long.MaxValue) % HotSpots).toInt)
      (cx - 0.5 + unit(seed, 1, i), cy - 0.5 + unit(seed, 2, i))
    } else (unit(seed, 1, i) * 360.0 - 180.0, unit(seed, 2, i) * 170.0 - 85.0)

  def points(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long]
      .map { i => val (x, y) = point(seed, i); (i, x, y) }
      .toDF("point_id", "lon", "lat")
  }

  /** Box `j`: one in every `hotEvery` boxes is a 0.3° square inside a hot
    * square (so hot points have matches); the rest spread uniformly with
    * sides of 0.1°..0.6°. */
  def box(seed: Long, j: Long, hotEvery: Int): (Double, Double, Double, Double) =
    if (j % hotEvery == 0) {
      val (cx, cy) = hotCentre(((j / hotEvery) % HotSpots).toInt)
      val free = 1.0 - HotBoxSide
      val x0 = cx - 0.5 + free * unit(seed, 5, j)
      val y0 = cy - 0.5 + free * unit(seed, 6, j)
      (x0, y0, x0 + HotBoxSide, y0 + HotBoxSide)
    } else {
      val w = 0.1 + 0.5 * unit(seed, 3, j)
      val h = 0.1 + 0.5 * unit(seed, 4, j)
      val x0 = unit(seed, 5, j) * (360.0 - w) - 180.0
      val y0 = unit(seed, 6, j) * (170.0 - h) - 85.0
      (x0, y0, x0 + w, y0 + h)
    }

  def polygons(spark: SparkSession, seed: Long, n: Long, hotEvery: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long]
      .map { j =>
        val (x0, y0, x1, y1) = box(seed, j, hotEvery)
        (j, graft.core.Wkb.writeBox(x0, y0, x1, y1))
      }
      .toDF("poly_id", "wkb")
  }
}

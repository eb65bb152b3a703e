package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.cube.{Cube, GridMapping, TilingScheme}
import graft.operators.{TileOps, TimeSeriesOps}
import graft.sources.{LevelStore, ZarrSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import perfbench.Main.Sample

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** `serve`: a closed loop of [[Serve.Clients]] client threads, each sending
  * its next request when the previous one has returned. A seeded mix of
  *  - tiles: the pyramid level for the tile's resolution from a
  *    `LevelStore` pyramid, gathered with `TileOps.computeTile` and
  *    PNG-encoded with `TileOps.renderPng`;
  *  - polygon time series: `TimeSeriesOps.getTimeSeries` with
  *    `clipToBbox` over the `format("zarr")` scan;
  *  - bbox statistics: count/sum/min/max through the `format("zarr")` scan.
  *
  * Each request touches a few of the cube's many chunks, so store open,
  * planning, chunk pruning and stage scheduling set the latency. Positions
  * lean toward a seeded hot region, so some requests re-read chunks.
  */
final class Serve(spark: SparkSession, trace: Trace, seed: Long, dir: String)
    extends Main.Workload {
  import Serve._

  private val cells = Cells(seed)
  private val gm = GridMapping(W, H, -180.0, -90.0, Res, Res)
  private val scheme = TilingScheme(2, 1, "CRS84", -180.0, -90.0, 180.0, 90.0, TilePx)
  private val group = s"$dir/cube.zarr"
  private val pyramid = s"$dir/pyramid"
  private var gms: Seq[GridMapping] = Nil
  private var setupPhases = Map.empty[String, Double]
  private val hot = {
    val r = new Random(seed * 31 + 7)
    (HotHalf + r.nextInt(W - 2 * HotHalf), HotHalf + r.nextInt(H - 2 * HotHalf))
  }

  /** A request, with the storage units it reads: zarr chunks for scans,
    * the pyramid tile for tiles. */
  private sealed trait Req { def kind: String; def units: Seq[String] }
  private final case class TileReq(z: Int, t: Int, tx: Int, ty: Int) extends Req {
    def kind = "tile"; def units = Seq(s"tile/$z/$t/$tx/$ty")
  }
  private final case class SeriesReq(i0: Int, j0: Int, a: Int, b: Int) extends Req {
    def kind = "series"
    def units = (0 until T).flatMap(t => chunkUnits(t, i0, j0, a, b))
  }
  private final case class StatsReq(t: Int, i0: Int, j0: Int, w: Int, h: Int) extends Req {
    def kind = "stats"; def units = chunkUnits(t, i0, j0, w, h)
  }
  private def chunkUnits(t: Int, i0: Int, j0: Int, w: Int, h: Int): Seq[String] =
    for (cj <- j0 / Chunk to (j0 + h - 1) / Chunk; ci <- i0 / Chunk to (i0 + w - 1) / Chunk)
      yield s"zarr/$t/$cj/$ci"

  /** The k-th request of a client: kinds and tile levels cycle in a fixed
    * order, so every run has the same mix; positions and sizes are drawn
    * from the client's seeded stream. */
  private def nextReq(r: Random, k: Int): Req = {
    val (pi, pj) =
      if (r.nextDouble() < HotShare)
        (hot._1 - HotHalf + r.nextInt(2 * HotHalf), hot._2 - HotHalf + r.nextInt(2 * HotHalf))
      else (r.nextInt(W), r.nextInt(H))
    def clamp(v: Int, lo: Int, hi: Int) = math.max(lo, math.min(hi, v))
    k % 3 match {
      case 0 =>
        val z = TileLevels((k / 3) % TileLevels.length)
        val (tx, ty) = scheme.tileForPoint(z, gm.xForI(pi), gm.yForJ(pj))
        TileReq(z, r.nextInt(T), tx.toInt, ty.toInt)
      case 1 =>
        // an even x leg and an odd y leg keep every cell centre off the
        // hypotenuse, so inside/outside is unambiguous
        val a = 8 + 2 * r.nextInt(13)
        val b = 7 + 2 * r.nextInt(13)
        SeriesReq(clamp(pi - a / 2, 0, W - a), clamp(pj - b / 2, 0, H - b), a, b)
      case _ =>
        val w = 8 + r.nextInt(57)
        val h = 8 + r.nextInt(57)
        StatsReq(r.nextInt(T), clamp(pi - w / 2, 0, W - w), clamp(pj - h / 2, 0, H - h), w, h)
    }
  }

  // ------------------------------------------------------------- set-up

  def setup(): Unit = {
    new java.io.File(dir).mkdirs()
    val idx = spark.range(T.toLong * H * W).select(
      (col("id") / (H * W)).cast("int").as("ti"),
      ((col("id") / W) % H).cast("int").as("j"),
      (col("id") % W).cast("int").as("i"))
    val df = idx.select(col("ti").cast("double").as("t"),
      timestamp_seconds((col("ti") + Day0) * 86400L).as("time"),
      gm.yExpr(col("j")).as("y"), gm.xExpr(col("i")).as("x"),
      cells.col(col("ti"), col("j"), col("i")).as("v"))
    // the two stores are written side by side: each cold write leaves
    // cores idle, and the time saved goes to warm-up requests
    val t0 = System.nanoTime()
    val (zarrS, pyramidS) = Serve.both(seconds(ZarrSource.writeCube(df.select("t", "y", "x", "v"),
      group, "v",
      Seq("t" -> Array.tabulate(T)(_.toDouble),
        "y" -> Array.tabulate(H)(j => gm.yForJ(j)),
        "x" -> Array.tabulate(W)(i => gm.xForI(i))),
      chunks = Seq(1, Chunk, Chunk), codec = ZarrSource.Blosc())),
      seconds { gms = LevelStore.writeLevels(Cube(df.select("time", "y", "x", "v"), gm, "time", "y",
        "x"), pyramid, Levels - 1) })
    val t1 = System.nanoTime()
    loop(Double.NaN, WarmPerClient)
    setupPhases = Map("zarr_s" -> zarrS, "pyramid_s" -> pyramidS,
      "stores_s" -> (t1 - t0) / 1e9, "warmup_s" -> (System.nanoTime() - t1) / 1e9)
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  // ----------------------------------------------------------- requests

  /** Runs one request; returns its result cells and the check of its
    * output, which the caller runs after the request's time is taken. */
  private def exec(q: Req): (Long, () => Boolean) = q match {
    case TileReq(z, t, tx, ty) =>
      val p = LevelStore.levelForResolution(gms, scheme.resolution(z))
      val lvl = trace.span("sources.open")(LevelStore.openLevel(spark, pyramid, p))
      val ts = new java.sql.Timestamp((Day0 + t) * 86400000L)
      val tile = TileOps.computeTile(lvl.filter(col("time") === lit(ts)), gms(p), scheme,
        z, tx.toLong, ty.toLong, "v")
      val png = trace.span("operators.render")(
        TileOps.renderPng(tile, TilePx, TilePx, 0.0, 64.0))
      (tile.count(!_.isNaN).toLong, () => p == Levels - 1 - z && checkTile(z, t, tx, ty, tile, png))
    case SeriesReq(i0, j0, a, b) =>
      val x0 = gm.xMin + i0 * Res
      val y0 = gm.yMin + j0 * Res
      val wkt = s"POLYGON (($x0 $y0, ${x0 + a * Res} $y0, $x0 ${y0 + b * Res}, $x0 $y0))"
      val z = trace.span("sources.open")(spark.read.format("zarr").load(group))
      val rows = TimeSeriesOps.getTimeSeries(Cube(z, gm, "t", "y", "x"), "v",
        geometryWkt = Some(wkt), methods = Seq("mean", "count"), clipToBbox = true).collect()
      val got = rows.map(r => r.getAs[Double]("time").toInt ->
        (r.getAs[Double]("v_mean"), r.getAs[Long]("v_count"))).toMap
      (got.values.map(_._2).sum, () => got.size == T && (0 until T).forall { t =>
        var n = 0L; var s = 0.0
        for (dj <- 0 until b; di <- 0 until a
             if b * (2 * di + 1) + a * (2 * dj + 1) < 2 * a * b) {
          n += 1; s += cells.v(t, j0 + dj, i0 + di)
        }
        got.get(t).contains((s / n, n))
      })
    case StatsReq(t, i0, j0, w, h) =>
      val z = trace.span("sources.open")(spark.read.format("zarr").load(group))
      val r = z.filter(col("t") === t.toDouble &&
          col("x").between(gm.xMin + i0 * Res, gm.xMin + (i0 + w) * Res) &&
          col("y").between(gm.yMin + j0 * Res, gm.yMin + (j0 + h) * Res))
        .agg(count(lit(1)), sum("v"), min("v"), max("v")).collect().head
      val n = r.getLong(0)
      (n, () => {
        var s = 0.0; var lo = Double.MaxValue; var hi = Double.MinValue
        for (j <- j0 until j0 + h; i <- i0 until i0 + w) {
          val v = cells.v(t, j, i); s += v; lo = math.min(lo, v); hi = math.max(hi, v)
        }
        n == w.toLong * h && r.getDouble(1) == s && r.getDouble(2) == lo && r.getDouble(3) == hi
      })
  }

  /** Recomputes 64 seeded pixels of the tile from the cell formula and
    * checks that the PNG decodes to the tile's size with the matching
    * transparency at those pixels. */
  private def checkTile(z: Int, t: Int, tx: Int, ty: Int, tile: Array[Double],
                        png: Array[Byte]): Boolean = {
    val ts = scheme.tileSize
    val (x1, _, x2, y2) = scheme.tileExtent(z, tx.toLong, ty.toLong)
    val pres = (x2 - x1) / ts
    val p = Levels - 1 - z
    val lres = Res * (1 << p)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val r = new Random(z * 1000003L + t * 1009L + tx * 31L + ty)
    tile.length == ts * ts && img != null && img.getWidth == ts && img.getHeight == ts &&
      (0 until 64).forall { _ =>
        val px = r.nextInt(ts); val py = r.nextInt(ts)
        val bi = math.floor((x1 + (px + 0.5) * pres - gm.xMin) / lres).toInt
        val bj = math.floor((y2 - (py + 0.5) * pres - gm.yMin) / lres).toInt
        val want =
          if (bi < 0 || bj < 0 || bi >= (W >> p) || bj >= (H >> p)) Double.NaN
          else cells.blockMean(p, bj, bi)((j, i) => cells.v(t, j, i))
        val got = tile(py * ts + px)
        val alpha = img.getRGB(px, py) >>> 24
        (want.isNaN && got.isNaN && alpha == 0) || (want == got && alpha == 255)
      }
  }

  // ---------------------------------------------------------- the loop

  private val streams = Array.tabulate(Clients)(c => new Random(seed * 7919 + c))
  private val resultCells = new AtomicLong(0L)
  private val timedReqs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Req)]()
  /** (start ns, latency ms) of every warm-up and every timed request. */
  private val warmMs, timedMs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

  /** Runs every client until `seconds` have passed (NaN: until each has
    * sent `count` requests, untimed). Returns the samples of timed runs. */
  private def loop(seconds: Double, count: Int): Seq[Sample] = {
    val timed = !seconds.isNaN
    val deadline = System.nanoTime() + (if (timed) (seconds * 1e9).toLong else 0L)
    val out = Array.fill(Clients)(ArrayBuffer.empty[Sample])
    var error: Throwable = null
    val threads = (0 until Clients).map { c =>
      new Thread(() => try {
        var k = 0
        while (if (timed) System.nanoTime() < deadline else k < count) {
          val q = nextReq(streams(c), c + k)
          val t0 = System.nanoTime()
          val (n, check) = trace.span("op." + q.kind)(exec(q))
          val ms = (System.nanoTime() - t0) / 1e6
          val ok = check()
          if (timed) {
            out(c) += Sample(q.kind, ms, ok)
            resultCells.addAndGet(n)
            timedReqs.add((t0, q))
            timedMs.add((t0, ms))
          } else warmMs.add((t0, ms))
          k += 1
        }
      } catch { case e: Throwable => error = e })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (error != null) throw error
    out.toSeq.flatten
  }

  def run(seconds: Double): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val s = loop(seconds, 0)
    (s, (System.nanoTime() - t0) / 1e9)
  }

  /** Share of timed requests that read a chunk or tile an earlier timed
    * request already read. */
  private def retouchShare: Double = {
    import scala.jdk.CollectionConverters._
    val seen = scala.collection.mutable.HashSet.empty[String]
    val reqs = timedReqs.asScala.toSeq.sortBy(_._1).map(_._2)
    val hits = reqs.count { q =>
      val u = q.units
      val hit = u.exists(seen.contains)
      seen ++= u
      hit
    }
    hits.toDouble / math.max(1, reqs.size)
  }

  /** Median latency per [[CurveWindowS]]-second window of request starts,
    * from the first warm-up request on: where the timed window sits on the
    * JIT warm-up curve. */
  private def curve: Seq[Double] = {
    import scala.jdk.CollectionConverters._
    val all = (warmMs.asScala ++ timedMs.asScala).toSeq
    if (all.isEmpty) Nil
    else {
      val start = all.map(_._1).min
      all.groupBy(r => ((r._1 - start) / (CurveWindowS * 1e9)).toInt).toSeq.sortBy(_._1)
        .map { case (_, rs) => math.round(Stats.pct(rs.map(_._2), 0.5) * 10) / 10.0 }
    }
  }

  override def info: Map[String, Any] = Map("setup" -> setupPhases, "retouch_share" -> retouchShare,
    "cube" -> s"${T}x${H}x$W", "chunks" -> T * (H / Chunk) * (W / Chunk),
    "warmup_requests" -> Clients * WarmPerClient, "p50_ms_per_window" -> curve)

  def layers(samples: Seq[Sample], d: Map[String, Long]): Map[String, Double] = {
    val n = samples.size.toDouble
    def p50(kind: String) = Stats.pct(samples.filter(_.kind == kind).map(_.ms), 0.5)
    val (renderMs, renders) = trace.spanStats("operators.render")
    val za = ZarrSource.openArray(s"$group/v")
    val raw = Cells.files(new java.io.File(s"$group/v"))
      .filterNot(_.getName.startsWith(".")).map(f => java.nio.file.Files.readAllBytes(f.toPath))
    Map(
      "sources.open_ms" -> trace.spanStats("sources.open")._1 / n,
      "sources.scan_chunks" -> d("decoded_cells") / (Chunk * Chunk).toDouble / n,
      "sources.cells_per_result" ->
        (d("decoded_cells") + d("records_read")) / math.max(1L, resultCells.get).toDouble,
      "sources.decode_mb_per_s.blosc" ->
        Cells.decodeMbPerS(raw, 5)(c => ZarrSource.decodeChunk(c, za).length * 8),
      "operators.render_ms" -> renderMs / math.max(1, renders),
      "serve.tile.p50_ms" -> p50("tile"),
      "serve.series.p50_ms" -> p50("series"),
      "serve.stats.p50_ms" -> p50("stats"))
  }
}

object Serve {
  /** Runs `a` on a second thread and `b` on this one; rethrows a failure. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    var ra: Option[A] = None
    var error: Throwable = null
    val th = new Thread(() => try ra = Some(a) catch { case e: Throwable => error = e })
    th.start()
    val rb = try b finally th.join()
    if (error != null) throw error
    (ra.get, rb)
  }

  /** Client threads of the closed loop (fixed, so the load does not depend
    * on the host; at most the 4 cores of the reference host). */
  val Clients = 3
  /** Requests each client sends before timing starts (JIT and caches):
    * 150 in all, past the steep part of the warm-up curve (see the README). */
  val WarmPerClient = 50
  /** Window length of the latency curve in the run info. */
  val CurveWindowS = 5
  /** Cube: T time steps of H × W cells at Res degrees over lon −180..0,
    * lat −90..0. With geographic tiles of TilePx pixels, pyramid level p
    * matches tile level 2 − p pixel for cell. */
  val T = 2
  val H = 256
  val W = 512
  val Res = 180.0 / 512
  val TilePx = 128
  val Levels = 3
  val Chunk = 32
  val Day0 = 19724L
  /** Tile levels in the order tile requests cycle through them. */
  val TileLevels: Array[Int] = Array(2, 1, 2, 0, 2, 1, 2, 2, 1, 2)
  /** Share of requests drawn from the hot region, and its half-width in cells. */
  val HotShare = 0.6
  val HotHalf = 32
}

package perfbench

import graft.cube.{Cube, GridMapping}
import graft.gen.InputProcessors
import graft.operators.TemporalOps
import graft.sources.{Hdf5Source, LevelStore, NetcdfSource, ZarrSource, ZarrV3Source}
import graft.sources.NetcdfSource.NcDim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import perfbench.Main.Sample

import scala.collection.mutable.ArrayBuffer

/** `produce`: repeated passes of the cube-production pipeline, each step
  * fully materialized:
  *  1. `cube`: generate a cube from seeded NetCDF-3 and NetCDF-4/HDF5
  *     granules (`InputProcessors.genCube`), resample it in time with mean
  *     and exact median (`TemporalOps.resampleInTime`), persist;
  *  2. `zarr_v3`: write it as sharded zstd Zarr v3 with `stats = true`;
  *  3. `zarr_v2`: write it as zlib Zarr v2;
  *  4. `pyramid`: build pyramid levels with `LevelStore.writeLevels`.
  *
  * Every pass reads every chunk once: codecs, writers, shuffle and compute
  * dominate, and pruning, planning and metadata caching do nothing.
  */
final class Produce(spark: SparkSession, trace: Trace, seed: Long, dir: String)
    extends Main.Workload {
  import Produce._

  private val cells = Cells(seed)
  private val gm = GridMapping(W, H, 0.0, 0.0, Res, Res)
  private val granules = (0 until G).map(k => s"$dir/granules/g$k.nc")
  private val dims = Seq("t" -> Array.tabulate(G / Window)(_.toDouble),
    "y" -> Array.tabulate(H)(j => gm.yForJ(j)), "x" -> Array.tabulate(W)(i => gm.xForI(i)))
  private var pass = 0
  private val bytesWritten = ArrayBuffer.empty[Long]
  private val storedPerCell = ArrayBuffer.empty[Double]
  private var warmS = 0.0
  private var warmMs = Seq.empty[Double]
  private val stepMs = scala.collection.mutable.Map.empty[String, Vector[Double]]

  def setup(): Unit = {
    new java.io.File(s"$dir/granules").mkdirs()
    val ncDims = Seq(NcDim("time", 1), NcDim("y", H), NcDim("x", W))
    granules.zipWithIndex.foreach { case (path, k) =>
      val coords = Seq("time" -> Array((Day0 + k) * 86400.0), dims(1), dims(2))
      val v = Array.tabulate(H * W)(c => cells.v(k, c / W, c % W))
      // alternate the two granule formats real archives mix
      if (k % 2 == 0) NetcdfSource.write(path, ncDims, coords, Seq(("v", Seq("time", "y", "x"), v)))
      else Hdf5Source.write(path, ncDims, coords, Seq(("v", Seq("time", "y", "x"), v)),
        chunkOf = Map("v" -> Seq(1, H / 4, W / 4)))
    }
    val t0 = System.nanoTime()
    warmMs = (0 until WarmPasses).map(_ => onePass().ms)
    stepMs.clear()
    warmS = (System.nanoTime() - t0) / 1e9
  }

  /** Runs the four steps as one operation: its latency is the sum of the
    * steps' times, and it fails if any step's output is wrong (the checks
    * run between the steps, untimed). Outputs of the previous pass are
    * removed first, so each pass writes into fresh directories. The pass
    * is the root span: the persisted cube lives across its steps and is
    * released before the pass ends. */
  private def onePass(): Sample = trace.span("op.pass") {
    Cells.deleteTree(new java.io.File(s"$dir/out"))
    val out = s"$dir/out/p$pass"
    pass += 1
    var ms = 0.0
    var ok = true
    def step(kind: String)(body: => Unit)(check: => Boolean): Unit = {
      val t0 = System.nanoTime()
      trace.span("step." + kind)(body)
      val dt = (System.nanoTime() - t0) / 1e6
      stepMs(kind) = stepMs.getOrElse(kind, Vector.empty) :+ dt
      ms += dt
      ok &&= trace.check(check)
    }
    var cube: DataFrame = null
    step("cube") {
      val gen = InputProcessors.genCube(spark, granules, "default", gm, gm, Seq("v"),
        toIj = df => df.select(gm.iExpr(col("x")).as("i"), gm.jExpr(col("y")).as("j"), col("v")))
        .select(col("time"), gm.yExpr(col("j")).as("y"), gm.xExpr(col("i")).as("x"), col("v"))
      cube = TemporalOps.resampleInTime(gen, "time", s"${Window}D",
          Seq("v" -> "mean", "v" -> "median"), extraKeys = Seq("y", "x"), labelCol = "time")
        .withColumn("t", ((unix_seconds(col("time")) / 86400 - Day0) / Window).cast("double"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      cube.write.mode("overwrite").format("noop").save()
    } {
      val rows = cube.filter(col("x") < 2.0 && col("y") < 2.0)
        .select("t", "y", "x", "v_mean", "v_median").collect()
      rows.length == (G / Window) * 64 && rows.forall { r =>
        val (t, j, i) = (r.getDouble(0).toInt, gm.jForY(r.getDouble(1)).toInt,
          gm.iForX(r.getDouble(2)).toInt)
        r.getDouble(3) == mean(t, j, i) && r.getDouble(4) == median(t, j, i)
      }
    }
    step("zarr_v3") {
      trace.span("sources.write")(ZarrV3Source.writeCube(cube.select("t", "y", "x", "v_mean"),
        s"$out/v3.zarr", "v_mean", dims, chunks = Shard,
        steps = Seq(ZarrSource.ZstdC(3)), shardInner = Some(ShardInner), stats = true))
    } {
      val a = s"$out/v3.zarr/v_mean"
      matches(ZarrV3Source.readAll(a, ZarrV3Source.openArray(a)), mean)
    }
    step("zarr_v2") {
      trace.span("sources.write")(ZarrSource.writeCubeVars(
        cube.select("t", "y", "x", "v_mean", "v_median"), s"$out/v2.zarr",
        Seq("v_mean", "v_median"), dims, chunks = Seq(1, H / 4, W / 4), codec = ZarrSource.Zlib()))
    } {
      Seq("v_mean" -> (mean _), "v_median" -> (median _)).forall { case (v, f) =>
        val a = s"$out/v2.zarr/$v"
        matches(ZarrSource.readAll(a, ZarrSource.openArray(a)), f)
      }
    }
    var levels: Seq[GridMapping] = Nil
    step("pyramid") {
      levels = trace.span("sources.write")(LevelStore.writeLevels(
        Cube(cube.select("time", "y", "x", "v_mean", "v_median"), gm, "time", "y", "x"),
        s"$out/pyramid", PyramidLevels))
    } {
      (1 to PyramidLevels).forall { p =>
        val lg = levels(p)
        val rows = LevelStore.openLevel(spark, s"$out/pyramid", p)
          .select(col("time"), col("y"), col("x"), col("v_mean"), col("v_median")).collect()
        rows.length == (G / Window) * (H >> p) * (W >> p) && rows.forall { r =>
          val t = ((r.getTimestamp(0).getTime / 86400000L - Day0) / Window).toInt
          val (bj, bi) = (lg.jForY(r.getDouble(1)).toInt, lg.iForX(r.getDouble(2)).toInt)
          // a 3-day mean is not dyadic, so its block mean depends on the
          // order of the additions: compared to 1e-12; medians are exact
          close(r.getDouble(3), cells.blockMean(p, bj, bi)(mean(t, _, _))) &&
            r.getDouble(4) == cells.blockMean(p, bj, bi)(median(t, _, _))
        }
      }
    }
    cube.unpersist(blocking = true)
    val sizes = Seq("v3.zarr", "v2.zarr", "pyramid").map(s => Cells.treeBytes(new java.io.File(s"$out/$s")))
    bytesWritten += sizes.sum
    val resampled = (G / Window).toLong * H * W
    storedPerCell += (sizes(0) + sizes(1)).toDouble / (resampled * 3)
    Sample("pass", ms, ok)
  }

  private def window(t: Int, j: Int, i: Int): Array[Double] =
    Array.tabulate(Window)(k => cells.v(t * Window + k, j, i))
  private def mean(t: Int, j: Int, i: Int): Double = window(t, j, i).sum / Window
  private def median(t: Int, j: Int, i: Int): Double = Cells.median(window(t, j, i))

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-12 * math.abs(b)

  /** Every stored cell of a (t, y, x) array equals the formula `f`. */
  private def matches(stored: Array[Double], f: (Int, Int, Int) => Double): Boolean =
    stored.length == (G / Window) * H * W &&
      stored.indices.forall(c => stored(c) == f(c / (H * W), (c / W) % H, c % W))

  def run(seconds: Double): (Seq[Sample], Double) = {
    val passes = math.max(1, math.round(seconds / NominalPassS).toInt)
    val samples = (1 to passes).map(_ => onePass())
    (samples, samples.map(_.ms).sum / 1000)
  }

  override def info: Map[String, Any] = Map("input_cells_per_pass" -> G * H * W,
    "resampled_cells_per_pass" -> (G / Window) * H * W, "passes" -> pass, "warmup_s" -> warmS,
    "warmup_pass_ms" -> warmMs,
    "step_ms" -> stepMs.toMap)

  def layers(samples: Seq[Sample], d: Map[String, Long]): Map[String, Double] = {
    val (writeMs, writes) = trace.spanStats("sources.write")
    val last = new java.io.File(s"$dir/out").listFiles().head.getPath
    // decode throughput on this run's own chunk files: the zlib chunks of
    // the v2 store and the zstd inner chunks cut from the v3 shards
    val v2 = ZarrSource.openArray(s"$last/v2.zarr/v_mean")
    val zlib = Cells.files(new java.io.File(s"$last/v2.zarr/v_mean"))
      .filterNot(_.getName.startsWith(".")).map(f => java.nio.file.Files.readAllBytes(f.toPath))
    val v3 = ZarrV3Source.openArray(s"$last/v3.zarr/v_mean")
    val inner = v3.codec.asInstanceOf[ZarrSource.Shard]
    val innerZa = v3.copy(chunks = inner.inner, codec = ZarrSource.V3Chain(inner.innerSteps))
    val zstd = Cells.files(new java.io.File(s"$last/v3.zarr/v_mean/c"))
      .flatMap(f => shardInnerChunks(java.nio.file.Files.readAllBytes(f.toPath), inner))
    Map(
      "sources.write_s" -> writeMs / 1000 / math.max(1, writes),
      "sources.bytes_written" -> bytesWritten.takeRight(samples.size).sum.toDouble /
        math.max(1, writes),
      "sources.stored_bytes_per_cell" -> Stats.pct(storedPerCell.toSeq, 0.5),
      "sources.decode_mb_per_s.zlib" ->
        Cells.decodeMbPerS(zlib, 5)(c => ZarrSource.decodeChunk(c, v2).length * 8),
      "sources.decode_mb_per_s.zstd" ->
        Cells.decodeMbPerS(zstd, 5)(c => ZarrSource.decodeChunk(c, innerZa).length * 8))
  }

  /** Inner chunks of one `sharding_indexed` object, cut by its index: one
    * little-endian (offset, nbytes) uint64 pair per inner chunk, at the
    * end of the shard and followed by a crc32c when `indexCrc` is set. */
  private def shardInnerChunks(shard: Array[Byte], s: ZarrSource.Shard): Seq[Array[Byte]] = {
    require(s.indexAtEnd, "index at the start of a shard is not used here")
    val n = Shard.zip(s.inner).map { case (c, i) => c / i }.product
    val idxLen = n * 16 + (if (s.indexCrc) 4 else 0)
    val b = java.nio.ByteBuffer.wrap(shard, shard.length - idxLen, n * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).map(_ => (b.getLong, b.getLong)).filter(_._1 != -1L).map { case (off, len) =>
      java.util.Arrays.copyOfRange(shard, off.toInt, (off + len).toInt)
    }
  }
}

object Produce {
  /** G daily granules of H × W cells at Res degrees; resampled over
    * Window-day buckets (Day0 is a multiple of Window days since the
    * epoch, so buckets start on granule boundaries). */
  val G = 3
  val H = 64
  val W = 128
  val Res = 0.25
  val Window = 3
  val Day0 = 19725L
  val PyramidLevels = 2
  /** v3 shard and inner-chunk shapes. */
  val Shard = Seq(1, H / 2, W / 2)
  val ShardInner = Seq(1, H / 8, W / 8)
  /** Timed passes per run: the run length over this nominal pass time,
    * so every run attempts the same whole passes. */
  val NominalPassS = 3.0
  /** Untimed passes before timing starts (JIT, codegen, file caches): the
    * first pass runs about 6x, the second about 1.5x and the third about
    * 1.3x the median timed pass. */
  val WarmPasses = 3
}

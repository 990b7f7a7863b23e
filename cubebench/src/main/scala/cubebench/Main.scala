package cubebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GenerateCube, SparkEntry}
import graft.core.{Cube, CubeConfig}
import graft.io.{CubeBuilder, CubeReader, CubeWriter, Hdf5, Netcdf, TiledPixels, Tiff}
import graft.meta.{CubePlanner, MetadataCrawler}
import graft.operators.SignatureStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: set up a workload from its seed, warm
  * it up, run it closed-loop with one client for a fixed time, check its
  * outputs and write the result as JSON. See `run.py` for the command. */
object Main {

  /** `sf` and `tablesS`: the query tables `run.py` generated for this seed
    * and the median time that took (query workload only). */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, out: String,
      sf: String, tablesS: Double)

  /** Set-up is repeated this many times per run; `setup_s` takes the median. */
  val SetupReps = 3
  val GrdProducts = 8
  val GrdSize = 512
  val SlcProducts = 6
  val SlcSize = 256
  val LookupTile = 256
  val LookupWindow = 256
  val LookupsPerPass = 8

  /** Queries that submit several Spark jobs while their DataFrame is built:
    * the three regressions ROADMAP names. */
  val Multistage: Seq[String] = Seq("ml_stump_split", "graph_kcore", "graph_link_adamic_adar")
  /** Queries whose plans the SQL-grammar extensions (`plans`) rewrite. */
  val SqlGrammar: Seq[String] = Seq("j21_asof_sql_syntax", "o21_qualify_topk")
  /** Reads of the near-duplicate pair store and the PQ code store. */
  val StoredReads: Seq[String] = Seq("dedup_minhash_lsh_stored", "ann_pq_stored")
  val Queries: Seq[String] = Multistage ++ SqlGrammar ++ StoredReads
  /** Timed passes a run makes at least: the first timed pass is still
    * warming up, so one pass alone reads slow, and a pass count that
    * varies from run to run makes the median vary with it. */
  val CubePasses = 2
  val QueryPasses = 3
  /** Queries ROADMAP names as the worst recompute regressions. */
  val Watched: Seq[String] = Multistage
  val TiffCodecs: Seq[String] = Seq("deflate", "lzw", "packbits", "none", "tiled")
  /** Store families the query list reads, built one by one in set-up. */
  val StoreFamilies: Seq[String] = Seq("k8_pairs", "pq")

  /** Every per-layer metric, reported by each traced run (0 where the
    * workload does not reach the layer). */
  val PerLayer: Seq[String] = Seq(
    "meta.crawl_ms", "meta.files_pruned_frac", "meta.plan_ms", "meta.plan_jobs", "meta.self_ms",
    "io.build_ms", "io.decode_ms", "io.parquet_write_ms", "io.netcdf_write_ms") ++
    TiffCodecs.map(c => s"io.tiff_decode_mb_s.$c") ++ Seq(
    "io.h5_decode_mb_s", "io.inflate_floor_mb_s", "io.bytes_written", "io.files_written",
    "io.window_read_amplification", "io.self_ms",
    "core.open_ms", "core.lookup_jobs", "core.lookup_task_cpu_ms", "core.self_ms",
    "operators.build_ms", "operators.eager_jobs", "operators.exec_ms", "operators.jobs", "operators.stages",
    "operators.tasks", "operators.task_cpu_s", "operators.shuffle_read_mb", "operators.shuffle_write_mb",
    "operators.spill_mb", "operators.rdd_blocks_stored", "operators.rdd_block_reputs", "operators.self_ms") ++
    Watched.map(q => s"operators.$q.wall_s") ++ Seq("plans.build_ms") ++
    StoreFamilies.map(f => s"stores.$f.build_ms") ++ Seq("stores.read_ms",
    "setup.warmup_ms", "jvm.gc_ms", "jvm.jit_ms", "jvm.code_cache_peak_mb", "trace.overhead_ms")

  // ------------------------------------------------------------------ run

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1", kv("work"), kv("out"),
      kv.getOrElse("sf", ""), kv.getOrElse("tables-s", "0").toDouble)
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.util.SparkUtil.builder(s"local[$cpus]")
      .appName("cubebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = Option.when(a.trace)(new Counters)
    counters.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, a, new Tracer(a.trace, counters), counters, (System.nanoTime() - t0) / 1e9)
    try {
      val json = a.workload match {
        case "cube"    => run.cube()
        case "queries" => run.queries()
        case w                    => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Files.write(Paths.get(a.out), json.getBytes("UTF-8"))
      if (a.trace) Files.write(Paths.get(s"${a.out}.spans.json"), run.spans.getBytes("UTF-8"))
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  def treeSize(f: File): (Long, Int) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.exists) (f.length, 1) else (0L, 0)

  def jsonNum(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => " "; case c => c.toString
  } + "\""
}

/** Operation samples of one kind, in milliseconds. */
final class Samples {
  val byKind = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(kind: String, ms: Double): Unit = { byKind.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms; () }
  def all: Seq[Double] = byKind.values.flatten.toSeq
}

final class Run(spark: SparkSession, a: Main.Args, tr: Tracer, counters: Option[Counters], sessionS: Double) {
  import Main._

  private val checkFailures = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0
  private val passes = mutable.ArrayBuffer[Double]()
  private val tracedPasses = mutable.ArrayBuffer[Double]()
  private val samples = new Samples
  private var heapPeakMb = 0.0
  private val report = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, Double]()

  def spans: String = tr.toJson

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  private def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) checkFailures += what
    ok
  }

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  private def codeCachePeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Live heap right after a full collection; the run reports the peak.
    * Spark's cleaner drops checkpoint and broadcast blocks only after a
    * collection finds their owners unreachable, so collect until the heap
    * stops shrinking. */
  private def sampleHeap(): Unit = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = Double.MaxValue
    var now = used
    var k = 0
    while (k < 5 && now < prev * 0.99) {
      Thread.sleep(200)
      prev = now
      now = used
      k += 1
    }
    heapPeakMb = math.max(heapPeakMb, now)
  }

  /** Median of `SetupReps` set-ups; each rep returns its state, only the
    * last one's is kept and the others are cleaned up by `drop`. */
  private def repeatedSetup[S](build: Int => S, drop: S => Unit): (S, Double) = {
    val runs = (0 until SetupReps).map(r => timed(build(r)))
    runs.init.foreach(x => drop(x._1))
    (runs.last._1, median(runs.map(_._2 / 1000)))
  }

  /** The closed loop: passes until the time budget is spent and at least
    * `minPasses` ran (in a traced run at least two, alternating traced and
    * plain passes so the difference gives the tracing overhead). */
  private def loop(minPasses: Int)(pass: Boolean => Unit): Unit = {
    val gc0 = gcMs; val jit0 = jitMs
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < math.max(minPasses, if (a.trace) 2 else 1)) {
      val traced = a.trace && i % 2 == 0
      tr.active = traced
      tr.pass = i
      tr.group = s"pass$i"
      val (_, t) = timed(pass(traced))
      (if (traced) tracedPasses else passes) += t / 1000
      sampleHeap()
      i += 1
    }
    tr.active = false
    layer("jvm.gc_ms") = gcMs - gc0
    layer("jvm.jit_ms") = jitMs - jit0
  }

  private def result(setupS: Double, warmupS: Double): String = {
    layer("setup.warmup_ms") = warmupS * 1000
    layer("jvm.code_cache_peak_mb") = codeCachePeakMb
    if (a.trace) layer("trace.overhead_ms") = (median(tracedPasses.toSeq) - median(passes.toSeq)) * 1000
    val kinds = samples.byKind.values.map(v => median(v.toSeq)).toSeq
    val endToEnd = Seq(
      "setup_s" -> (sessionS + setupS + warmupS),
      "pass_s" -> median(passes.toSeq),
      "op_p50_ms" -> median(samples.all),
      "op_geomean_ms" -> geomean(kinds),
      "heap_live_peak_mb" -> heapPeakMb)
    val metrics = if (a.trace) PerLayer.map(k => k -> layer.getOrElse(k, 0.0)) else endToEnd
    report("session_s") = (sessionS, "s")
    report("setup_rep_s") = (setupS, "s")
    report("warmup_s") = (warmupS, "s")
    report("samples") = (samples.all.size.toDouble, "count")
    report("passes") = (passes.size.toDouble, "count")
    report("pass_min_s") = (passes.min, "s")
    report("pass_max_s") = (passes.max, "s")
    report("failed_frac") = (failed.toDouble / math.max(1, attempted), "share")
    val fields = Seq(
      s""""attempted":$attempted""", s""""failed":$failed""",
      s""""metrics":{${metrics.map { case (k, v) => s"${jsonStr(k)}:${jsonNum(v)}" }.mkString(",")}}""",
      s""""report":{${report.map { case (k, (v, u)) => s"${jsonStr(k)}:[${jsonNum(v)},${jsonStr(u)}]" }.mkString(",")}}""",
      s""""check_failures":[${checkFailures.take(20).map(jsonStr).mkString(",")}]""") ++
      extra
    fields.mkString("{", ",", "}")
  }
  private val extra = mutable.ArrayBuffer[String]()

  /** Per-layer value: mean per traced pass of `f` over the named spans. */
  private def perPass(name: String)(f: Span => Double): Double =
    tr.timed(name).map(f).sum / math.max(1, tracedPasses.size)

  private def selfByLayer(): Unit = {
    val self = tr.selfMs
    Seq("meta", "io", "core", "operators", "plans", "stores").foreach { l =>
      layer(s"$l.self_ms") = tr.spans.filter(s => s.pass >= 0 && s.name.startsWith(s"$l.")).map(s => self(s.id)).sum /
        math.max(1, tracedPasses.size)
    }
  }

  // ---------------------------------------------------------------- cube

  /** The paper's path, then its read twin. Each pass builds the GRD cube
    * (GeoTIFF stack → Parquet) and the SLC cube (HDF5 stack → netCDF), then
    * reopens the GRD cube and serves 4 metadata lookups and 4 tiled window
    * reads in seeded order. */
  def cube(): String = {
    val config = CubeConfig.fromJsonString(Rasters.ConfigJson)
    val ((grd, slc), repS) = repeatedSetup[(Rasters.Stack, Rasters.Stack)](r => {
      val base = s"${a.work}/rasters$r"
      val g = Rasters.grdStack(a.seed, s"$base/grd", GrdProducts, GrdSize, GrdSize)
      val s = Rasters.slcStack(a.seed, s"$base/slc", SlcProducts, SlcSize, SlcSize)
      verifyDecode(g, s)
      (g, s)
    }, st => deleteTree(new File(st._1.dir).getParentFile))
    val out = s"${a.work}/out"
    val grdOut = s"$out/grd_cube"
    val slcOut = s"$out/slc_cube.nc"
    val tiledOut = s"$out/grd_cube_tiled"
    lazy val tiled = CubeReader.tiledPixels(spark, tiledOut)
    val kept = grd.products.filter(_.kept)
    val rnd = new java.util.Random(a.seed * 7919)
    val amplification = mutable.ArrayBuffer[Double]()

    /** The warm-up pass also writes the tiled copy the window reads use. */
    def grdPlain(alsoTiled: Boolean): Unit = {
      val c = GenerateCube.createCube(spark, grd.dir, config)
      CubeWriter.write(c, grdOut)
      if (alsoTiled) report("tiled_write_s") = (timed(CubeWriter.writeTiled(c, tiledOut, LookupTile))._2 / 1000, "s")
    }
    def slcPlain(): Unit = GenerateCube.createCube(spark, slc.dir, config).toNetcdf(slcOut)
    /** Traced twin: the same build, one layer call at a time. */
    def traced(stack: Rasters.Stack, write: Cube => Unit, writeSpan: String): Unit = {
      val files = MetadataCrawler.listRasterFiles(stack.dir)
      val crawled = tr.span("meta.crawl") { val c = MetadataCrawler.crawlRasterFiles(spark, files); c.collect(); c }
      val planned = tr.span("meta.plan")(new CubePlanner(config).plan(crawled).collect())
      layer("meta.files_pruned_frac") = 1.0 - planned.count(r => r.getAs[String]("product_fpath") != null) /
        files.size.toDouble
      val cube = tr.span("io.build")(CubeBuilder.fromFiles(spark, files, config))
      tr.span("io.decode")(cube.pixels.write.format("noop").mode("overwrite").save())
      tr.span(writeSpan)(write(cube))
    }
    def metaLookup(c: Cube, p: Rasters.Product): Boolean = {
      val m = c.metadataByProduct(p.name)
      check(m.get("product_file").contains(p.name) &&
        m.get("incidence_center").map(_.toDouble).contains(p.incidence) &&
        m.get("acquisition_date").contains(p.date.toString.replace("-", "")),
        s"meta_lookup ${p.name}: $m")
    }
    def windowRead(c: Cube, p: Rasters.Product, az0: Int, rg0: Int): Boolean = {
      val idx = c.productIndex(p.name)
      val rows = TiledPixels.window(tiled.filter(col("band_index") === idx), LookupTile,
        az0, az0 + LookupWindow - 1, rg0, rg0 + LookupWindow - 1)
        .select(col("azimuth"), col("range"), col("intensity")).collect()
      val plane = grd.planes(p.name)
      var wantSum = 0.0
      for (az <- az0 until az0 + LookupWindow; rg <- rg0 until rg0 + LookupWindow)
        wantSum += plane(az * p.rg + rg).toDouble * (az * p.rg + rg + 1)
      val gotSum = rows.map(r => r.getAs[Number](2).doubleValue * (r.getInt(0) * p.rg + r.getInt(1) + 1)).sum
      check(rows.length == LookupWindow * LookupWindow && gotSum == wantSum,
        s"window_read ${p.name} at ($az0,$rg0): ${rows.length} pixels")
    }
    def lookups(trace: Boolean): Unit = {
      val c = tr.span("core.open")(CubeReader.load(spark, grdOut))
      val kinds = new scala.util.Random(rnd.nextLong()).shuffle(Seq.fill(LookupsPerPass / 2)(Seq(true, false)).flatten)
      kinds.foreach { meta =>
        val p = kept(rnd.nextInt(kept.size))
        val az0 = rnd.nextInt(GrdSize - LookupWindow + 1)
        val rg0 = rnd.nextInt(GrdSize - LookupWindow + 1)
        val kind = if (meta) "meta_lookup" else "window_read"
        val (ok, t) = timed(tr.span(s"core.$kind")(if (meta) metaLookup(c, p) else windowRead(c, p, az0, rg0)))
        if (trace && !meta) tr.spans.lastOption.foreach { s =>
          amplification += s.counters("input_bytes").toDouble / (LookupWindow * LookupWindow * 2)
        }
        attempted += 1
        if (!ok) failed += 1
        if (!trace) samples.add(kind, t)
      }
    }
    def pass(trace: Boolean, alsoTiled: Boolean): Unit = {
      new File(slcOut).delete()
      val (_, g) = timed(if (trace) tr.span("grd_cube")(traced(grd, CubeWriter.write(_, grdOut), "io.parquet_write"))
                         else grdPlain(alsoTiled))
      val (_, s) = timed(if (trace) tr.span("slc_cube")(traced(slc, _.toNetcdf(slcOut), "io.netcdf_write"))
                         else slcPlain())
      attempted += 2
      if (!trace) { samples.add("grd_cube", g); samples.add("slc_cube", s) }
      lookups(trace)
    }

    // the cubes of the last pass are checked; a wrong cube fails every cube
    // build of the run
    val (_, warmupMs) = timed(tr.span("setup.warmup")(pass(trace = false, alsoTiled = true)))
    val warmOk = failed == 0
    attempted = 0; failed = 0; samples.byKind.clear()
    loop(CubePasses)(pass(_, alsoTiled = false))
    if (!warmOk || !checkCubes(grd, slc, grdOut, slcOut))
      failed += samples.byKind.get("grd_cube").map(_.size * 2).getOrElse(0)

    val (bytes, files) = Seq(treeSize(new File(grdOut)), treeSize(new File(slcOut)))
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    report("grd_cube_s") = (median(samples.byKind("grd_cube").toSeq) / 1000, "s")
    report("slc_cube_s") = (median(samples.byKind("slc_cube").toSeq) / 1000, "s")
    report("stored_bytes_per_pixel_byte") = (bytes.toDouble / (grd.rawPixelBytes + slc.rawPixelBytes), "ratio")
    Seq("meta_lookup", "window_read").foreach { k =>
      val xs = samples.byKind(k).toSeq
      report(s"${k}_p50_ms") = (median(xs), "ms")
      report(s"${k}_max_ms") = (xs.max, "ms")
      report(s"${k}_samples") = (xs.size.toDouble, "count")
    }
    if (a.trace) {
      layer("meta.crawl_ms") = perPass("meta.crawl")(_.ms)
      layer("meta.plan_ms") = perPass("meta.plan")(_.ms)
      layer("meta.plan_jobs") = perPass("meta.plan")(_.counters("jobs").toDouble)
      layer("io.build_ms") = perPass("io.build")(_.ms)
      layer("io.decode_ms") = perPass("io.decode")(_.ms)
      val decodeBy = tr.timed("io.decode").groupBy(s => parentName(s))
      def decodeOf(root: String) = decodeBy.getOrElse(root, Nil).map(_.ms).sum / math.max(1, tracedPasses.size)
      layer("io.parquet_write_ms") = perPass("io.parquet_write")(_.ms) - decodeOf("grd_cube")
      layer("io.netcdf_write_ms") = perPass("io.netcdf_write")(_.ms) - decodeOf("slc_cube")
      layer("io.bytes_written") = bytes.toDouble
      layer("io.files_written") = files.toDouble
      layer("core.open_ms") = median(tr.timed("core.open").map(_.ms))
      val ls = tr.timed("core.meta_lookup") ++ tr.timed("core.window_read")
      layer("core.lookup_jobs") = ls.map(_.counters("jobs").toDouble).sum / math.max(1, ls.size)
      layer("core.lookup_task_cpu_ms") = ls.map(_.counters("task_cpu_ns") / 1e6).sum / math.max(1, ls.size)
      layer("io.window_read_amplification") = median(amplification.toSeq)
      decodeThroughput(grd, slc)
      selfByLayer()
    }
    result(repS, warmupMs / 1000)
  }

  private def parentName(s: Span): String =
    tr.spans.find(_.id == s.parent).map(_.name).getOrElse("")

  /** Every generated file decodes back to the generator's values. */
  private def verifyDecode(grd: Rasters.Stack, slc: Rasters.Stack): Unit = {
    grd.products.filter(_.kept).foreach { p =>
      val data = Files.readAllBytes(Paths.get(p.path))
      val plane = grd.planes(p.name)
      var bad = 0
      Tiff.decode(data, Tiff.fromBytes(data)).foreach { case (az, rg, v) => if (plane(az * p.rg + rg) != v) bad += 1 }
      require(bad == 0, s"${p.name}: $bad pixels decode differently from the generator")
    }
    slc.products.filter(_.kept).foreach { p =>
      val f = Hdf5.fromBytes(Files.readAllBytes(Paths.get(p.path)))
      val e = f.rootEntries.toMap
      val got = f.readDoubles(f.dataset("s_i", e("s_i"))) ++ f.readDoubles(f.dataset("s_q", e("s_q")))
      val want = slc.planes(p.name)
      require(got.length == want.length && got.indices.forall(i => got(i) == want(i)),
        s"${p.name}: HDF5 planes decode differently from the generator")
    }
  }

  /** Band set and exact per-band sums of both written cubes. */
  private def checkCubes(grd: Rasters.Stack, slc: Rasters.Stack, grdOut: String, slcOut: String): Boolean = {
    def bandsOk(name: String, cube: Cube, want: IndexedSeq[Option[String]]): Boolean = {
      val got = cube.layers.select(col("band_index"), col("product_file")).collect()
        .map(r => r.getInt(0) -> Option(r.getString(1)).filter(_ != Cube.NoneValue)).toMap
      check(got == want.zipWithIndex.map { case (p, i) => i -> p }.toMap, s"$name: band set $got")
    }
    def sumsOk(name: String, got: Map[Int, Double], want: Map[Int, Double]): Boolean =
      check(got == want, s"$name: per-band sums differ (got $got, want $want)")
    val g = CubeReader.load(spark, grdOut)
    val gSums = g.pixels.groupBy("band_index").agg(sum(col("intensity").cast("double"))).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    val s = Netcdf.readCube(spark, slcOut)
    val sSums = s.pixels.filter(col("real").isNotNull && !isnan(col("real")))
      .groupBy("band_index").agg(sum(col("real") + col("imag"))).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    Seq(bandsOk("grd", g, grd.bands), sumsOk("grd", gSums, grd.sums),
      bandsOk("slc", s, slc.bands), sumsOk("slc", sSums, slc.sums)).forall(identity)
  }

  /** Single-thread decode throughput per codec, and the raw-inflate floor. */
  private def decodeThroughput(grd: Rasters.Stack, slc: Rasters.Stack): Unit = {
    def mbS(rawBytes: Long)(body: => Unit): Double =
      median((0 until 5).map { _ => val (_, t) = timed(body); rawBytes / 1048576.0 / (t / 1000) })
    TiffCodecs.foreach { c =>
      grd.products.find(p => p.kept && p.layout.codec == c).orElse(grd.products.find(_.layout.codec == c)).foreach { p =>
        val data = Files.readAllBytes(Paths.get(p.path))
        val info = Tiff.fromBytes(data)
        layer(s"io.tiff_decode_mb_s.$c") = mbS(p.az.toLong * p.rg * 2) {
          var s = 0.0
          Tiff.decode(data, info).foreach(x => s += x._3)
        }
      }
    }
    slc.products.find(_.kept).foreach { p =>
      val data = Files.readAllBytes(Paths.get(p.path))
      layer("io.h5_decode_mb_s") = mbS(p.az.toLong * p.rg * 8) {
        val f = Hdf5.fromBytes(data)
        val e = f.rootEntries.toMap
        f.readDoubles(f.dataset("s_i", e("s_i"))); f.readDoubles(f.dataset("s_q", e("s_q")))
        ()
      }
    }
    val plane = grd.planes.head._2
    val blocks = Rasters.deflateBlocks(plane, GrdSize)
    layer("io.inflate_floor_mb_s") = mbS(blocks.map(_._2.toLong).sum) {
      blocks.foreach { case (z, n) =>
        val inf = new java.util.zip.Inflater()
        inf.setInput(z)
        val outBuf = new Array[Byte](n)
        inf.inflate(outBuf)
        inf.end()
      }
    }
  }

  // ------------------------------------------------------------- queries

  private def buildStores(sf: String): Unit = {
    import graft.operators.PqQueries
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    StoreFamilies.foreach { f =>
      tr.span(s"stores.$f.build") {
        f match {
          case "k8_pairs" => noop(SignatureStore.ensureK8Pairs(spark, sf))
          case "pq" =>
            val e = graft.util.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
            val (cb, codes) = SignatureStore.ensurePqStore(spark, sf, () => PqQueries.trainCodebook(e),
              cbStored => PqQueries.packCodes(PqQueries.pqAssign(PqQueries.scaledSub(e), cbStored)))
            noop(cb); noop(codes)
        }
      }
    }
  }

  /** The operator path: the multistage queries (pins, fixpoints, collect
    * chains), the SQL-grammar queries of `plans` and two store reads, in
    * a seeded order, each built and then executed to the noop sink. */
  def queries(): String = {
    val order = new scala.util.Random(a.seed).shuffle(Queries)
    val registry = SparkEntry.queries
    val sf = a.sf
    // a fresh store root per run: nothing is read from an earlier run
    spark.conf.set("spark.graft.sigstore.root", s"${a.work}/sigstore")
    val (_, storesMs) = timed(buildStores(sf))

    val outDir = s"${a.work}/out"
    val threw = mutable.Map[String, Int]().withDefaultValue(0)
    val execs = mutable.Map[String, Int]().withDefaultValue(0)
    def run(q: String, trace: Boolean, sink: DataFrame => Unit): Unit = {
      tr.group = q
      counters.foreach(_.resetBlocks())
      val t0 = System.nanoTime()
      try {
        val buildName = if (SqlGrammar.contains(q)) "plans.build" else "operators.build"
        tr.span(s"query.$q") {
          val df = tr.span(buildName)(registry(q)(spark, sf))
          tr.span("operators.exec")(sink(df))
        }
        if (!trace) samples.add(q, ms(t0))
      } catch {
        case e: Exception =>
          threw(q) += 1
          checkFailures += s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      execs(q) += 1
      attempted += 1
    }

    val (_, warmupMs) = timed(tr.span("setup.warmup") {
      order.foreach(q => run(q, trace = false, _.write.mode("overwrite").parquet(s"$outDir/$q")))
    })
    val warmThrew = threw.toMap
    attempted = 0; threw.clear(); execs.clear(); samples.byKind.clear()
    loop(QueryPasses) { trace =>
      order.foreach(q => run(q, trace, _.write.format("noop").mode("overwrite").save()))
    }
    failed = threw.values.sum + order.filter(warmThrew.contains).map(q => execs(q) - threw(q)).sum

    val oracle = SparkEntry.oracleSql
    val oracleJson = order.filter(q => oracle.contains(q) && !warmThrew.contains(q))
      .map(q => s"${jsonStr(q)}:${jsonStr(oracle(q))}").mkString("{", ",", "}")
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), oracleJson.getBytes("UTF-8"))
    extra += s""""oracle":{"out":${jsonStr(outDir)},"sf":${jsonStr(sf)},""" +
      s""""execs":{${order.map(q => s"${jsonStr(q)}:${execs(q) - threw(q)}").mkString(",")}}}"""
    samples.byKind.foreach { case (q, v) => report(s"$q.ms") = (median(v.toSeq), "ms") }
    report("query_geomean_s") = (geomean(samples.byKind.values.map(v => median(v.toSeq) / 1000).toSeq), "s")

    if (a.trace) {
      val traced = tr.spans.filter(_.pass >= 0).toSeq
      def sumOf(name: String)(f: Span => Double) =
        traced.filter(_.name == name).map(f).sum / math.max(1, tracedPasses.size)
      layer("operators.build_ms") = sumOf("operators.build")(_.ms)
      layer("operators.eager_jobs") = sumOf("operators.build")(_.counters("jobs").toDouble)
      layer("plans.build_ms") = sumOf("plans.build")(_.ms)
      layer("operators.exec_ms") = sumOf("operators.exec")(_.ms)
      def execCounter(k: String, scale: Double) = sumOf("operators.exec")(_.counters(k) / scale)
      layer("operators.jobs") = execCounter("jobs", 1)
      layer("operators.stages") = execCounter("stages", 1)
      layer("operators.tasks") = execCounter("tasks", 1)
      layer("operators.task_cpu_s") = execCounter("task_cpu_ns", 1e9)
      layer("operators.shuffle_read_mb") = execCounter("shuffle_read_bytes", 1048576)
      layer("operators.shuffle_write_mb") = execCounter("shuffle_write_bytes", 1048576)
      layer("operators.spill_mb") = execCounter("spill_bytes", 1048576)
      val builds = traced.filter(s => s.name == "operators.exec" || s.name == "operators.build" || s.name == "plans.build")
      layer("operators.rdd_blocks_stored") = builds.map(_.counters("rdd_blocks_stored").toDouble).sum /
        math.max(1, tracedPasses.size)
      layer("operators.rdd_block_reputs") = builds.map(_.counters("rdd_block_reputs").toDouble).sum /
        math.max(1, tracedPasses.size)
      Watched.filter(order.contains).foreach { q =>
        layer(s"operators.$q.wall_s") = median(tr.timed(s"query.$q").map(_.ms / 1000))
      }
      layer("stores.read_ms") = order.filter(_.endsWith("_stored"))
        .map(q => tr.timed(s"query.$q").map(_.ms).sum).sum / math.max(1, tracedPasses.size)
      StoreFamilies.foreach { f =>
        val b = tr.named(s"stores.$f.build")
        if (b.nonEmpty) layer(s"stores.$f.build_ms") = median(b.map(_.ms))
      }
      selfByLayer()
    }
    report("stores_s") = (storesMs / 1000, "s")
    result(a.tablesS + storesMs / 1000, warmupMs / 1000)
  }
}

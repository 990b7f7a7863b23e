package cubebench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** Seeded GRD (GeoTIFF) and SLC (HDF5) stacks with the metadata the
  * crawler reads, plus the values every check compares against.
  *
  * Pixel values are speckle — a slowly varying backscatter field times
  * an exponential draw per pixel — so the codecs see data that
  * compresses like radar imagery, not like a gradient.
  */
object Rasters {

  /** Cube-config window shared by both stacks: 1-day resample, one
    * product per day kept (temporal_overlap=false), incidence 20°–40°. */
  val Start: LocalDate = LocalDate.of(2021, 5, 1)
  val Days = 10
  val End: LocalDate = Start.plusDays(Days - 1L)
  val ConfigJson: String =
    s"""{"start_date": "${Start.toString.replace("-", "")}", "end_date": "${End.toString.replace("-", "")}",
       | "min_incidence_angle": 20, "max_incidence_angle": 40,
       | "temporal_resolution": 1, "temporal_overlap": false}""".stripMargin

  /** How a GRD product is stored: TIFF compression code, tile edge (0 =
    * strips) and predictor. */
  final case class Layout(compression: Int, tile: Int, predictor: Int) {
    def codec: String =
      if (tile > 0) "tiled"
      else compression match { case 8 => "deflate"; case 5 => "lzw"; case 32773 => "packbits"; case _ => "none" }
  }

  final case class Product(
      name: String,
      path: String,
      date: LocalDate,
      time: String, // HH:mm:ss.SSSSSS
      incidence: Double,
      az: Int,
      rg: Int,
      layout: Layout,
      kept: Boolean) {
    def acquisitionEndUtc: String = s"${date}T$time"
  }

  /** One generated stack: products in generation order, the surviving
    * product of each band (None = gap band), per-band pixel sums, and the
    * pixel planes of the kept products (row-major). */
  final case class Stack(
      dir: String,
      products: Seq[Product],
      bands: IndexedSeq[Option[String]],
      sums: Map[Int, Double],
      planes: Map[String, Array[Float]],
      rawPixelBytes: Long)

  private val GrdLayouts = IndexedSeq(
    Layout(8, 0, 1), Layout(5, 0, 2), Layout(32773, 0, 1), Layout(1, 0, 1),
    Layout(8, 128, 2), Layout(5, 128, 1), Layout(8, 0, 2), Layout(1, 128, 1))

  /** Product plan: of `n` products, one dated outside the window, one
    * with an out-of-range incidence angle and one a same-day duplicate
    * (earlier time, so the later one is kept); the rest land on distinct
    * days, which leaves the other window days as gap bands. */
  private def plan(rnd: java.util.Random, n: Int, kind: String, ext: String, dir: String,
      az: Int, rg: Int): Seq[Product] = {
    val days = rnd.ints(0, Days).distinct().limit(n - 3L).toArray.toIndexedSeq
    def time(h: Int) = f"$h%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d.${rnd.nextInt(1000000)}%06d"
    def angle() = 22.0 + rnd.nextInt(160) / 10.0
    def mk(i: Int, date: LocalDate, t: String, inc: Double, kept: Boolean) = {
      val name = f"ICEYE_${kind}_${50000 + i}_${date.toString.replace("-", "")}T000000_bench_$i.$ext"
      Product(name, s"$dir/$name", date, t, inc, az, rg, GrdLayouts(i % GrdLayouts.size), kept)
    }
    val regular = days.zipWithIndex.map { case (d, i) => mk(i, Start.plusDays(d.toLong), time(12), angle(), kept = true) }
    val k = regular.size
    regular ++ Seq(
      mk(k, End.plusDays(1L + rnd.nextInt(5)), time(12), angle(), kept = false),
      mk(k + 1, Start.plusDays(rnd.nextInt(Days).toLong), time(12), 45.0 + rnd.nextInt(100) / 10.0, kept = false),
      mk(k + 2, Start.plusDays(days.last.toLong), time(3), angle(), kept = false))
  }

  private def bandsOf(products: Seq[Product]): IndexedSeq[Option[String]] = {
    val byDay = products.filter(_.kept).map(p => (p.date.toEpochDay - Start.toEpochDay).toInt -> p.name).toMap
    (0 until Days).map(byDay.get)
  }

  /** Speckle plane: mean backscatter varies per 32-px block, each pixel an
    * exponential draw around it; clipped to `max`. */
  def speckle(seed: Long, az: Int, rg: Int, max: Double): Array[Float] = {
    val rnd = new java.util.SplittableRandom(seed)
    val blockMeans = Array.fill(((az + 31) / 32) * ((rg + 31) / 32))(200.0 + rnd.nextDouble() * 1800.0)
    val bw = (rg + 31) / 32
    val out = new Array[Float](az * rg)
    var a = 0
    while (a < az) {
      var r = 0
      while (r < rg) {
        val m = blockMeans((a / 32) * bw + r / 32)
        out(a * rg + r) = math.min(max, math.floor(-m * math.log(1.0 - rnd.nextDouble()))).toFloat
        r += 1
      }
      a += 1
    }
    out
  }

  def grdStack(seed: Long, dir: String, n: Int, az: Int, rg: Int): Stack = {
    Files.createDirectories(Paths.get(dir))
    val rnd = new java.util.Random(seed)
    val products = plan(rnd, n, "GRD", "tif", dir, az, rg)
    val planes = products.zipWithIndex.map { case (p, i) =>
      val plane = speckle(seed * 31 + i, az, rg, 65535)
      Files.write(Paths.get(p.path), TiffWriter.encode(p, plane))
      p.name -> plane
    }.toMap
    finish(dir, products, planes, bytesPerPixel = 2)
  }

  def slcStack(seed: Long, dir: String, n: Int, az: Int, rg: Int): Stack = {
    Files.createDirectories(Paths.get(dir))
    val rnd = new java.util.Random(seed ^ 0x5c5c5c5cL)
    val products = plan(rnd, n, "SLC", "h5", dir, az, rg)
    val planes = products.zipWithIndex.map { case (p, i) =>
      val si = speckle(seed * 37 + i, az, rg, 30000).map(v => v - 1000f)
      val sq = speckle(seed * 41 + i, az, rg, 30000).map(v => 1000f - v)
      Files.write(Paths.get(p.path), H5Writer.slcProduct(p, si, sq))
      p.name -> (si ++ sq)
    }.toMap
    finish(dir, products, planes, bytesPerPixel = 8)
  }

  private def finish(dir: String, products: Seq[Product], planes: Map[String, Array[Float]],
      bytesPerPixel: Int): Stack = {
    val bands = bandsOf(products)
    val sums = bands.zipWithIndex.collect { case (Some(name), b) =>
      b -> planes(name).foldLeft(0.0)(_ + _.toDouble)
    }.toMap
    val kept = products.filter(_.kept).map(_.name).toSet
    val raw = products.filter(_.kept).map(p => p.az.toLong * p.rg * bytesPerPixel).sum
    Stack(dir, products, bands, sums, planes.filter { case (k, _) => kept(k) }, raw)
  }

  /** Raw deflate blocks of one GRD plane's strips, for the inflate floor. */
  def deflateBlocks(plane: Array[Float], rg: Int): Seq[(Array[Byte], Int)] =
    TiffWriter.rawStrips(plane, rg, plane.length / rg).map(raw => (TiffWriter.deflate(raw), raw.length))
}

/** Little-endian GeoTIFF writer: uint16 samples, strips of 16 rows or
  * square tiles, compression none/LZW/deflate/PackBits, optional
  * horizontal predictor, GDAL_METADATA tag with the ICEYE items. */
object TiffWriter {
  private val RowsPerStrip = 16

  private def gdalXml(p: Rasters.Product): String = {
    def v(xs: Double*) = xs.mkString("[ ", "  ", " ]")
    Seq(
      "ACQUISITION_END_UTC" -> p.acquisitionEndUtc,
      "COORD_FIRST_NEAR" -> v(0, 0, 47.0, 21.0),
      "COORD_FIRST_FAR" -> v(0, 0, 47.0, 21.1),
      "COORD_LAST_NEAR" -> v(0, 0, 47.1, 21.0),
      "COORD_LAST_FAR" -> v(0, 0, 47.1, 21.1),
      "INCIDENCE_CENTER" -> p.incidence.toString,
      "LOOK_SIDE" -> "RIGHT",
      "NUMBER_OF_AZIMUTH_SAMPLES" -> p.az.toString,
      "NUMBER_OF_RANGE_SAMPLES" -> p.rg.toString,
      "ORBIT_DIRECTION" -> "ASCENDING",
      "PRODUCT_FILE" -> p.name,
      "SATELLITE_LOOK_ANGLE" -> "30",
    ).map { case (k, x) => s"""  <Item name="$k">$x</Item>""" }
      .mkString("<GDALMetadata>\n", "\n", "\n</GDALMetadata>")
  }

  def rawStrips(plane: Array[Float], rg: Int, az: Int): Seq[Array[Byte]] =
    (0 until az by RowsPerStrip).map { a0 =>
      val rows = math.min(RowsPerStrip, az - a0)
      val b = ByteBuffer.allocate(rows * rg * 2).order(ByteOrder.LITTLE_ENDIAN)
      var i = a0 * rg
      while (i < (a0 + rows) * rg) { b.putShort(plane(i).toInt.toShort); i += 1 }
      b.array()
    }

  private def rawTiles(plane: Array[Float], rg: Int, az: Int, t: Int): Seq[Array[Byte]] =
    for { ta <- 0 until (az + t - 1) / t; tr <- 0 until (rg + t - 1) / t } yield {
      val b = ByteBuffer.allocate(t * t * 2).order(ByteOrder.LITTLE_ENDIAN)
      for { a <- ta * t until ta * t + t; r <- tr * t until tr * t + t } {
        b.putShort((if (a < az && r < rg) plane(a * rg + r).toInt else 0).toShort)
      }
      b.array()
    }

  /** Horizontal differencing per row of `width` uint16 samples. */
  private def predict(raw: Array[Byte], width: Int): Array[Byte] = {
    val b = ByteBuffer.wrap(raw.clone()).order(ByteOrder.LITTLE_ENDIAN)
    val src = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    for (row <- 0 until raw.length / (width * 2); c <- 1 until width) {
      val p = (row * width + c) * 2
      b.putShort(p, (src.getShort(p) - src.getShort(p - 2)).toShort)
    }
    b.array()
  }

  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** TIFF LZW (MSB-first codes, Clear 256, EOI 257, early change). When
    * the 12-bit table is full the encoder emits Clear and starts a new
    * table, as the TIFF 6.0 specification requires. */
  def lzw(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length)
    var bits = 0L
    var nBits = 0
    var width = 9
    def emit(code: Int): Unit = {
      bits = (bits << width) | code
      nBits += width
      while (nBits >= 8) { out.write(((bits >> (nBits - 8)) & 0xff).toInt); nBits -= 8 }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var next = 258
    emit(256)
    var omega = -1
    for (b <- raw) {
      val k = b & 0xff
      if (omega < 0) omega = k
      else {
        val hit = dict.get((omega << 8) | k)
        if (hit != null) omega = hit
        else {
          emit(omega)
          if (next >= 4094) {
            emit(256)
            dict.clear(); next = 258; width = 9
          } else {
            dict.put((omega << 8) | k, next)
            next += 1
            if (next == (1 << width) - 1 && width < 12) width += 1
          }
          omega = k
        }
      }
    }
    if (omega >= 0) emit(omega)
    emit(257)
    if (nBits > 0) out.write(((bits << (8 - nBits)) & 0xff).toInt)
    out.toByteArray
  }

  private def packBits(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + raw.length / 64 + 2)
    var i = 0
    while (i < raw.length) {
      var run = 1
      while (i + run < raw.length && raw(i + run) == raw(i) && run < 128) run += 1
      if (run >= 2) { out.write(1 - run); out.write(raw(i).toInt); i += run }
      else {
        val start = i
        i += 1
        while (i < raw.length && i - start < 128 &&
          !(i + 2 < raw.length && raw(i) == raw(i + 1) && raw(i) == raw(i + 2))) i += 1
        out.write(i - start - 1)
        out.write(raw, start, i - start)
      }
    }
    out.toByteArray
  }

  def encode(p: Rasters.Product, plane: Array[Float]): Array[Byte] = {
    val l = p.layout
    val blockWidth = if (l.tile > 0) l.tile else p.rg
    val raws = if (l.tile > 0) rawTiles(plane, p.rg, p.az, l.tile) else rawStrips(plane, p.rg, p.az)
    val blocks = raws.map { r0 =>
      val r = if (l.predictor == 2) predict(r0, blockWidth) else r0
      l.compression match {
        case 8     => deflate(r)
        case 5     => lzw(r)
        case 32773 => packBits(r)
        case _     => r
      }
    }
    val xml = (gdalXml(p) + "\u0000").getBytes(UTF_8)
    // (tag, type, values) with type 3 = SHORT, 4 = LONG, 2 = ASCII
    val offsetsTag = if (l.tile > 0) 324 else 273
    val countsTag = if (l.tile > 0) 325 else 279
    val layoutTags =
      if (l.tile > 0) Seq((322, 3, Seq(l.tile.toLong)), (323, 3, Seq(l.tile.toLong)))
      else Seq((278, 3, Seq(RowsPerStrip.toLong)))
    val tags = (Seq(
      (256, 3, Seq(p.rg.toLong)), (257, 3, Seq(p.az.toLong)), (258, 3, Seq(16L)),
      (259, 3, Seq(l.compression.toLong)), (262, 3, Seq(1L)), (277, 3, Seq(1L)),
      (317, 3, Seq(l.predictor.toLong)), (339, 3, Seq(1L)),
      (offsetsTag, 4, Seq.fill(blocks.size)(0L)), (countsTag, 4, blocks.map(_.length.toLong))) ++
      layoutTags).sortBy(_._1)
    def size(t: Int, n: Int) = if (t == 3) 2 * n else 4 * n
    val ifdLen = 2 + (tags.size + 1) * 12 + 4
    var cursor = 8L + ifdLen
    val outOfLine = scala.collection.mutable.Map[Int, Long]()
    tags.foreach { case (id, t, vs) => if (size(t, vs.size) > 4) { outOfLine(id) = cursor; cursor += size(t, vs.size) } }
    val xmlAt = cursor
    cursor += xml.length
    val blockAt = blocks.scanLeft(cursor)(_ + _.length)
    val buf = ByteBuffer.allocate(blockAt.last.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    buf.putShort((tags.size + 1).toShort)
    def putValues(t: Int, vs: Seq[Long]): Unit =
      vs.foreach(v => if (t == 3) buf.putShort(v.toShort) else buf.putInt(v.toInt))
    val withOffsets = tags.map { case (id, t, vs) => if (id == offsetsTag) (id, t, blockAt.init) else (id, t, vs) }
    (withOffsets.map(Left(_)) :+ Right(42112)).foreach {
      case Left((id, t, vs)) =>
        buf.putShort(id.toShort).putShort(t.toShort).putInt(vs.size)
        outOfLine.get(id) match {
          case Some(o) => buf.putInt(o.toInt)
          case None =>
            val at = buf.position()
            putValues(t, vs)
            buf.position(at + 4)
        }
      case Right(id) =>
        buf.putShort(id.toShort).putShort(2).putInt(xml.length).putInt(xmlAt.toInt)
    }
    buf.putInt(0)
    withOffsets.foreach { case (id, t, vs) => if (outOfLine.contains(id)) putValues(t, vs) }
    buf.put(xml)
    blocks.foreach(b => buf.put(b))
    buf.array()
  }
}

/** Minimal HDF5 writer for one SLC product: v0 superblock, a root
  * symbol-table group, `s_i`/`s_q` float32 datasets chunked with
  * shuffle + deflate, and scalar metadata datasets. */
object H5Writer {
  private val Undef = -1L
  private def pad8(n: Int) = (n + 7) / 8 * 8

  private sealed trait Data { def dims: Seq[Int] }
  private final case class F32(dims: Seq[Int], v: Array[Float], chunk: (Int, Int)) extends Data
  private final case class F64(dims: Seq[Int], v: Array[Double]) extends Data
  private final case class I32(v: Int) extends Data { def dims: Seq[Int] = Nil }
  private final case class Str(v: String) extends Data { def dims: Seq[Int] = Nil }

  private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def dtype(d: Data): Array[Byte] = {
    val b = le(24)
    d match {
      case _: F32 =>
        b.put(0x11.toByte).put(0x20.toByte).put(0x0f.toByte).put(0.toByte).putInt(4)
        b.putShort(0).putShort(32).put(0.toByte).put(23.toByte).put(8.toByte)
          .put(0.toByte).put(23.toByte).put(0.toByte).putShort(0).putInt(127)
      case _: F64 =>
        b.put(0x11.toByte).put(0x20.toByte).put(0x3f.toByte).put(0.toByte).putInt(8)
        b.putShort(0).putShort(64).put(0.toByte).put(52.toByte).put(11.toByte)
          .put(0.toByte).put(52.toByte).put(0.toByte).putShort(0).putInt(1023)
      case _: I32 =>
        b.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte).putInt(4)
        b.putShort(0).putShort(32)
      case Str(v) =>
        b.put(0x13.toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(v.getBytes(UTF_8).length + 1)
    }
    java.util.Arrays.copyOf(b.array(), pad8(b.position()))
  }

  private def contiguous(d: Data): Array[Byte] = d match {
    case F64(_, v) => val b = le(v.length * 8); v.foreach(b.putDouble); b.array()
    case I32(v)    => le(4).putInt(v).array()
    case Str(v)    => (v + "\u0000").getBytes(UTF_8)
    case _: F32    => throw new IllegalArgumentException("float32 datasets are chunked")
  }

  /** Chunks of a float32 plane, edge chunks zero-padded, each shuffled
    * (byte planes) then deflated. */
  private def chunks(f: F32): Seq[(Int, Int, Array[Byte])] = {
    val Seq(az, rg) = f.dims
    val (ch, cw) = f.chunk
    for { a0 <- 0 until az by ch; r0 <- 0 until rg by cw } yield {
      val n = ch * cw
      val raw = le(n * 4)
      for { a <- a0 until a0 + ch; r <- r0 until r0 + cw } {
        raw.putFloat(if (a < az && r < rg) f.v(a * rg + r) else 0f)
      }
      val bytes = raw.array()
      val shuffled = new Array[Byte](bytes.length)
      for { j <- 0 until 4; i <- 0 until n } shuffled(j * n + i) = bytes(i * 4 + j)
      (a0, r0, TiffWriter.deflate(shuffled))
    }
  }

  def slcProduct(p: Rasters.Product, si: Array[Float], sq: Array[Float]): Array[Byte] = {
    val chunk = (math.min(64, p.az), math.min(128, p.rg))
    val ds: Seq[(String, Data)] = Seq(
      "s_i" -> F32(Seq(p.az, p.rg), si, chunk),
      "s_q" -> F32(Seq(p.az, p.rg), sq, chunk),
      "product_file" -> Str(p.name),
      "acquisition_end_utc" -> Str(p.acquisitionEndUtc),
      "orbit_direction" -> Str("ASCENDING"),
      "look_side" -> Str("RIGHT"),
      "satellite_look_angle" -> Str("30"),
      "incidence_center" -> F64(Nil, Array(p.incidence)),
      "number_of_azimuth_samples" -> I32(p.az),
      "number_of_range_samples" -> I32(p.rg),
      "coord_first_near" -> F64(Seq(4), Array(0, 0, 47.0, 21.0)),
      "coord_first_far" -> F64(Seq(4), Array(0, 0, 47.0, 21.1)),
      "coord_last_near" -> F64(Seq(4), Array(0, 0, 47.1, 21.0)),
      "coord_last_far" -> F64(Seq(4), Array(0, 0, 47.1, 21.1)),
    ).sortBy(_._1)
    write(ds)
  }

  private def write(ds: Seq[(String, Data)]): Array[Byte] = {
    val chunked: Map[String, Seq[(Int, Int, Array[Byte])]] =
      ds.collect { case (n, f: F32) => n -> chunks(f) }.toMap
    val pipeline: Array[Byte] = { // v1 filter pipeline: shuffle(4), deflate(6)
      val b = le(8 + 16 + 16)
      b.put(1.toByte).put(2.toByte).put(new Array[Byte](6))
      b.putShort(2).putShort(0).putShort(0).putShort(1).putInt(4).putInt(0)
      b.putShort(1).putShort(0).putShort(0).putShort(1).putInt(6).putInt(0)
      b.array()
    }
    def dspaceLen(d: Data) = 8 + d.dims.size * 8
    def ohdrLen(n: String, d: Data) =
      16 + (8 + dspaceLen(d)) + (8 + dtype(d).length) + (8 + 24) +
        (if (chunked.contains(n)) 8 + pipeline.length else 0)

    val heapNames = ds.map(_._1).scanLeft(8L)((o, n) => o + pad8(n.length + 1))
    val nameOff = ds.map(_._1).zip(heapNames).toMap
    val rootAt = 96L
    val heapAt = rootAt + 40
    val heapDataAt = heapAt + 32
    val treeAt = heapDataAt + heapNames.last
    val snodAt = treeAt + 48
    var cursor = snodAt + 8 + ds.size * 40
    val ohdrAt = ds.map { case (n, d) => val a = cursor; cursor += ohdrLen(n, d); n -> a }.toMap
    val btreeAt = ds.collect { case (n, _) if chunked.contains(n) =>
      val a = cursor; cursor += 24 + chunked(n).size * 40 + 32; n -> a }.toMap
    val dataAt = ds.collect { case (n, d) if !chunked.contains(n) =>
      val a = cursor; cursor += pad8(contiguous(d).length); n -> a }.toMap
    val chunkAt = chunked.map { case (n, cs) =>
      n -> cs.map { case (_, _, bytes) => val a = cursor; cursor += pad8(bytes.length); a } }
    val eof = cursor

    val buf = le(eof.toInt)
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    buf.put(Array[Byte](0, 0, 0, 0, 0, 8, 8, 0))
    buf.putShort(4).putShort(16).putInt(0)
    buf.putLong(0L).putLong(Undef).putLong(eof).putLong(Undef)
    buf.putLong(0L).putLong(rootAt).putInt(0).putInt(0).putLong(0L).putLong(0L)
    // root group: one symbol-table message
    buf.put(1.toByte).put(0.toByte).putShort(1).putInt(1).putInt(24).putInt(0)
    buf.putShort(0x11).putShort(16).putInt(0).putLong(treeAt).putLong(heapAt)
    buf.put("HEAP".getBytes(UTF_8)).putInt(0)
    buf.putLong(heapNames.last).putLong(Undef).putLong(heapDataAt)
    buf.putLong(0L)
    ds.foreach { case (n, _) => buf.put(java.util.Arrays.copyOf(n.getBytes(UTF_8), pad8(n.length + 1))) }
    buf.put("TREE".getBytes(UTF_8)).put(0.toByte).put(0.toByte).putShort(1)
    buf.putLong(Undef).putLong(Undef).putLong(0L).putLong(snodAt).putLong(nameOff(ds.last._1))
    buf.put("SNOD".getBytes(UTF_8)).putShort(1).putShort(ds.size.toShort)
    ds.foreach { case (n, _) =>
      buf.putLong(nameOff(n)).putLong(ohdrAt(n)).putInt(0).putInt(0).putLong(0L).putLong(0L)
    }
    ds.foreach { case (n, d) =>
      val isChunked = chunked.contains(n)
      val dt = dtype(d)
      val msgs = (8 + dspaceLen(d)) + (8 + dt.length) + (8 + 24) + (if (isChunked) 8 + pipeline.length else 0)
      buf.put(1.toByte).put(0.toByte).putShort((if (isChunked) 4 else 3).toShort).putInt(1).putInt(msgs).putInt(0)
      buf.putShort(0x01).putShort(dspaceLen(d).toShort).putInt(0)
      buf.put(1.toByte).put(d.dims.size.toByte).put(new Array[Byte](6))
      d.dims.foreach(x => buf.putLong(x.toLong))
      buf.putShort(0x03).putShort(dt.length.toShort).putInt(0).put(dt)
      if (isChunked) {
        buf.putShort(0x0b).putShort(pipeline.length.toShort).putInt(0).put(pipeline)
        val f = d.asInstanceOf[F32]
        buf.putShort(0x08).putShort(24).putInt(0)
        buf.put(3.toByte).put(2.toByte).put(3.toByte).putLong(btreeAt(n))
        buf.putInt(f.chunk._1).putInt(f.chunk._2).putInt(4).put(0.toByte)
      } else {
        buf.putShort(0x08).putShort(24).putInt(0)
        buf.put(3.toByte).put(1.toByte).putLong(dataAt(n)).putLong(contiguous(d).length.toLong)
        buf.put(new Array[Byte](6))
      }
    }
    chunked.foreach { case (n, cs) =>
      buf.position(btreeAt(n).toInt)
      buf.put("TREE".getBytes(UTF_8)).put(1.toByte).put(0.toByte).putShort(cs.size.toShort)
      buf.putLong(Undef).putLong(Undef)
      cs.zip(chunkAt(n)).foreach { case ((a0, r0, bytes), addr) =>
        buf.putInt(bytes.length).putInt(0).putLong(a0.toLong).putLong(r0.toLong).putLong(0L).putLong(addr)
      }
      buf.putInt(0).putInt(0).putLong(0L).putLong(0L).putLong(0L)
      cs.zip(chunkAt(n)).foreach { case ((_, _, bytes), addr) => buf.position(addr.toInt); buf.put(bytes) }
    }
    ds.foreach { case (n, d) => if (!chunked.contains(n)) { buf.position(dataAt(n).toInt); buf.put(contiguous(d)) } }
    buf.array()
  }
}

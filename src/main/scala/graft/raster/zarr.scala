package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import graft.io.{FileIO, PositionedReader}
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.Instant
import java.util.zip.{Deflater, Inflater}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Json

/** Zarr v2 raster codec (directory store): the cloud-native chunked array
  * format of the xarray/dask ecosystem — exactly the producer/consumer
  * family the reference serves through GDAL's format autodetection in
  * `RasterFileSource` (dask_geomodeling/raster/sources.py:396-564).
  * Implemented from the public Zarr v2 storage spec
  * (zarr-specs v2: `.zgroup`/`.zarray`/`.zattrs` JSON + C-order chunk
  * files) and the xarray `_ARRAY_DIMENSIONS` convention; CF attribute
  * semantics (cell-center coordinates, `units` time axis, `_FillValue`,
  * `scale_factor`/`add_offset`, `grid_mapping`) shared with the NetCDF
  * codec.
  *
  * Read support: 2-D (y,x) and 3-D (time,y,x) arrays, both byte orders,
  * all integer/float dtypes, `zlib` or no compressor, either dimension
  * separator, either y orientation, missing chunks (= fill, the Zarr
  * sparse contract), padded edge chunks. Anything else — blosc, filters,
  * Fortran order — fails loudly rather than guessing.
  *
  * Scale story: Zarr IS the chunked-object-storage layout — metadata is a
  * handful of tiny JSON reads, and each chunk is an independent object,
  * so a 100 TB store serves frame/tile requests without touching
  * unrelated bytes. This codec reads only the chunks that intersect the
  * requested frames; the spatial tiling inside a frame mirrors the COG
  * path.
  */
object Zarr {

  // ------------------------------------------------------------ metadata

  /** Compression of the chunk payload (v2 `compressor` / v3 codecs). */
  sealed trait Compression
  case object NoComp extends Compression
  case object Zlib extends Compression   // v2 "zlib" (raw zlib stream)
  case object Gzip extends Compression   // v3 "gzip" (gzip-framed)
  case object Zstd extends Compression

  /** v3 `sharding_indexed` layout: each chunk-grid cell is a SHARD file
    * holding a sub-grid of inner chunks plus a fixed-size index of
    * (offset, nbytes) u64-LE pairs in inner C order — at the file tail
    * by default — optionally protected by a crc32c. The missing-chunk
    * sentinel is both words 2^64-1. Read-only here: the index footer
    * maps straight onto positioned byte-range reads, so a windowed
    * request touches only the inner chunks it needs. */
  case class Shard(inner: Seq[Int], indexAtEnd: Boolean, indexCrc: Boolean)

  /** Parsed array metadata — `.zarray`+`.zattrs` (v2) or `zarr.json`
    * (v3). `v3DefaultKey` marks the v3 "default" chunk-key encoding
    * (keys under a `c` prefix); the v3 "v2" encoding and all of v2
    * itself use bare joined indices. When `shard` is set, `chunks` is
    * the SHARD shape and `bo`/`comp` describe the INNER chunk codecs. */
  case class ArrayMeta(name: String, dir: String, shape: Seq[Int],
      chunks: Seq[Int], dtype: DType, bo: ByteOrder, fill: Double,
      comp: Compression, sep: String, dims: Seq[String],
      attrs: Map[String, Any], v3DefaultKey: Boolean = false,
      shard: Option[Shard] = None) {
    def ndim: Int = shape.length
    def chunkKey(idx: Seq[Int]): String = {
      val body = if (idx.isEmpty) "0" else idx.mkString(sep)
      if (v3DefaultKey) s"c$sep$body" else body
    }
  }

  private def jsonMap(p: String): Map[String, Any] =
    if (!FileIO.exists(p)) Map.empty
    else Json.parse(FileIO.readString(p)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(
        s"$p: expected a JSON object, got ${other.getClass.getSimpleName}")
    }

  private def asDouble(v: Any, what: String): Double = v match {
    case d: Double => d
    case l: Long   => l.toDouble
    case i: Int    => i.toDouble
    case b: Boolean => if (b) 1.0 else 0.0 // v3 bool fill_value
    case "NaN"     => Double.NaN
    case "Infinity" => Double.PositiveInfinity
    case "-Infinity" => Double.NegativeInfinity
    case other => throw new IllegalArgumentException(
      s"zarr: cannot read $what from '$other'")
  }

  private def asIntSeq(v: Any, what: String): Seq[Int] = v match {
    case l: List[_] => l.map(x => asDouble(x, what).toInt)
    case other => throw new IllegalArgumentException(
      s"zarr: $what must be a list, got '$other'")
  }

  /** `"<f8"`-style dtype string → (DType, ByteOrder). */
  def parseDtype(s: String): (DType, ByteOrder) = {
    require(s.length == 3, s"zarr: unsupported dtype '$s'")
    val bo = s.charAt(0) match {
      case '<' | '|' => ByteOrder.LITTLE_ENDIAN
      case '>'       => ByteOrder.BIG_ENDIAN
      case c => throw new IllegalArgumentException(
        s"zarr: unknown byte-order prefix '$c' in dtype '$s'")
    }
    val dt = s.substring(1) match {
      case "b1" => DType.Bool
      case "i1" => DType.I1; case "i2" => DType.I2
      case "i4" => DType.I4; case "i8" => DType.I8
      case "u1" => DType.U1; case "u2" => DType.U2
      case "u4" => DType.U4; case "u8" => DType.U8
      case "f4" => DType.F4; case "f8" => DType.F8
      case other => throw new IllegalArgumentException(
        s"zarr: unsupported dtype '$s'")
    }
    (dt, bo)
  }

  private def dtypeStr(dt: DType): String = "<" + (dt.kind match {
    case 'b' => "b"; case 'u' => "u"; case 'i' => "i"; case _ => "f"
  }) + dt.size

  def readArrayMeta(dir: String): ArrayMeta =
    if (FileIO.exists(FileIO.child(dir, "zarr.json")))
      buildArrayMetaV3(dir, jsonMap(FileIO.child(dir, "zarr.json")))
    else
      buildArrayMeta(dir, jsonMap(FileIO.child(dir, ".zarray")),
        jsonMap(FileIO.child(dir, ".zattrs")))

  /** Zarr v3 array metadata (one `zarr.json` document per the v3 core
    * spec): regular chunk grid, `default`/`v2` chunk-key encodings,
    * codec chain `bytes` (+ optional `gzip` or `zstd` — zarr-python
    * v3's default compressor), `sharding_indexed` (read path),
    * `dimension_names`. Transpose, crc32c-on-data, blosc, and
    * extension nodes fail loudly by name. */
  private def buildArrayMetaV3(dir: String, doc: Map[String, Any]): ArrayMeta = {
    require(doc.nonEmpty, s"$dir: missing zarr.json")
    require(asDouble(doc.getOrElse("zarr_format", 0L), "zarr_format") == 3,
      s"$dir: zarr.json is not format 3")
    require(doc.getOrElse("node_type", "") == "array",
      s"$dir: zarr.json node_type is not 'array'")
    val shape = asIntSeq(doc.getOrElse("shape", Nil), "shape")
    require(shape.nonEmpty && shape.forall(_ > 0), s"$dir: bad shape")
    def nested(v: Any): Map[String, Any] = v match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }
    val grid = nested(doc.getOrElse("chunk_grid", Map.empty))
    require(grid.getOrElse("name", "") == "regular",
      s"$dir: chunk_grid '${grid.getOrElse("name", "?")}' (only regular)")
    val chunks = asIntSeq(nested(grid.getOrElse("configuration", Map.empty))
      .getOrElse("chunk_shape", Nil), "chunk_shape")
    require(chunks.length == shape.length && chunks.forall(_ > 0),
      s"$dir: chunk_shape rank mismatch")
    require(chunks.map(_.toLong).product <= (1L << 27),
      s"$dir: chunk of ${chunks.mkString("×")} elements too large for " +
        "this reader (2^27 max)")
    require(shape.map(_.toLong).product <= (1L << 34),
      s"$dir: array of ${shape.mkString("×")} elements too large")
    val keyEnc = nested(doc.getOrElse("chunk_key_encoding",
      Map("name" -> "default")))
    val encName = keyEnc.getOrElse("name", "default")
    require(encName == "default" || encName == "v2",
      s"$dir: chunk_key_encoding '$encName'")
    val sep = nested(keyEnc.getOrElse("configuration", Map.empty))
      .getOrElse("separator", if (encName == "default") "/" else ".") match {
      case s: String if s == "." || s == "/" => s
      case other => throw new IllegalArgumentException(
        s"$dir: bad separator '$other'")
    }
    val dtName = doc.getOrElse("data_type", "").toString
    val dt = try DType.byName(dtName) catch {
      case _: Exception => throw new IllegalArgumentException(
        s"$dir: unsupported data_type '$dtName'")
    }
    val codecs = doc.getOrElse("codecs", Nil) match {
      case l: List[_] => l.map(nested)
      case _ => throw new IllegalArgumentException(s"$dir: codecs not a list")
    }
    def parseChain(chain: Seq[Map[String, Any]],
        what: String): (ByteOrder, Compression) = {
      require(chain.nonEmpty && chain.head.getOrElse("name", "") == "bytes",
        s"$dir: first $what codec must be 'bytes' " +
          s"(got '${chain.headOption.flatMap(_.get("name")).getOrElse("?")}')")
      val bo = nested(chain.head.getOrElse("configuration", Map.empty))
        .getOrElse("endian", "little") match {
        case "little" => ByteOrder.LITTLE_ENDIAN
        case "big"    => ByteOrder.BIG_ENDIAN
        case other => throw new IllegalArgumentException(
          s"$dir: bad endian '$other'")
      }
      val comp = chain.tail match {
        case Nil => NoComp
        case one :: Nil => one.getOrElse("name", "?") match {
          case "gzip" => Gzip
          case "zstd" => Zstd
          case other => throw new IllegalArgumentException(
            s"$dir: unsupported codec '$other' (gzip/zstd/none)")
        }
        case more => throw new IllegalArgumentException(
          s"$dir: codec chains beyond bytes+one compressor not supported " +
            s"(${more.length + 1} codecs)")
      }
      (bo, comp)
    }
    val (bo, comp, shard) =
      if (codecs.nonEmpty &&
        codecs.head.getOrElse("name", "") == "sharding_indexed") {
        require(codecs.length == 1,
          s"$dir: sharding_indexed must be the only top-level codec")
        val cfg = nested(codecs.head.getOrElse("configuration", Map.empty))
        val inner = asIntSeq(cfg.getOrElse("chunk_shape", Nil),
          "shard chunk_shape")
        require(inner.length == chunks.length && inner.forall(_ > 0),
          s"$dir: shard inner chunk_shape rank mismatch")
        require(chunks.zip(inner).forall { case (c, i) => c % i == 0 },
          s"$dir: inner chunk shape ${inner.mkString("×")} must divide " +
            s"the shard shape ${chunks.mkString("×")} (v3 sharding spec)")
        val nInner = chunks.zip(inner)
          .map { case (c, i) => (c / i).toLong }.product
        require(nInner <= (1L << 20),
          s"$dir: $nInner inner chunks per shard too many (2^20 max)")
        val innerChain = cfg.getOrElse("codecs", Nil) match {
          case l: List[_] => l.map(nested)
          case _ => throw new IllegalArgumentException(
            s"$dir: shard codecs not a list")
        }
        val (ibo, icomp) = parseChain(innerChain, "shard inner")
        val idxChain = (cfg.getOrElse("index_codecs", Nil) match {
          case l: List[_] => l.map(nested)
          case _ => throw new IllegalArgumentException(
            s"$dir: index_codecs not a list")
        }).map(_.getOrElse("name", "?"))
        val idxCrc = idxChain match {
          case Seq("bytes")           => false
          case Seq("bytes", "crc32c") => true
          case other => throw new IllegalArgumentException(
            s"$dir: index_codecs ${other.mkString("[", ",", "]")} " +
              "(only [bytes] or [bytes, crc32c])")
        }
        val atEnd = cfg.getOrElse("index_location", "end") match {
          case "end"   => true
          case "start" => false
          case other => throw new IllegalArgumentException(
            s"$dir: index_location '$other'")
        }
        (ibo, icomp, Some(Shard(inner, atEnd, idxCrc)))
      } else {
        val (b0, c0) = parseChain(codecs, "")
        (b0, c0, None)
      }
    val fill = doc.getOrElse("fill_value", null) match {
      case null => dt.noDataValue
      case v    => asDouble(v, "fill_value")
    }
    val attrs = nested(doc.getOrElse("attributes", Map.empty))
    val dims = doc.get("dimension_names") match {
      case Some(l: List[_]) => l.map(_.toString)
      case _ => attrs.get("_ARRAY_DIMENSIONS") match {
        case Some(l: List[_]) => l.map(_.toString)
        case _                => Nil
      }
    }
    ArrayMeta(FileIO.name(dir), dir, shape, chunks, dt, bo, fill,
      comp, sep, dims, attrs, v3DefaultKey = encName == "default",
      shard = shard)
  }

  private def buildArrayMeta(dir: String, za: Map[String, Any],
      attrs: Map[String, Any]): ArrayMeta = {
    require(za.nonEmpty, s"$dir: missing .zarray")
    require(asDouble(za.getOrElse("zarr_format", 2L), "zarr_format") == 2,
      s"$dir: only zarr v2 is supported")
    val shape = asIntSeq(za.getOrElse("shape", Nil), "shape")
    val chunks = asIntSeq(za.getOrElse("chunks", Nil), "chunks")
    require(shape.nonEmpty && shape.length == chunks.length,
      s"$dir: shape/chunks rank mismatch")
    require(shape.forall(_ > 0) && chunks.forall(_ > 0),
      s"$dir: non-positive shape or chunks")
    // allocation guards: hostile metadata must fail loudly, not OOM
    require(chunks.map(_.toLong).product <= (1L << 27),
      s"$dir: chunk of ${chunks.mkString("×")} elements too large for " +
        "this reader (2^27 max)")
    require(shape.map(_.toLong).product <= (1L << 34),
      s"$dir: array of ${shape.mkString("×")} elements too large")
    val (dt, bo) = parseDtype(za.getOrElse("dtype", "")
      .asInstanceOf[String])
    require(za.getOrElse("order", "C") == "C",
      s"$dir: Fortran chunk order not supported")
    require(za.getOrElse("filters", null) == null,
      s"$dir: zarr filters not supported")
    val comp = za.getOrElse("compressor", null) match {
      case null => NoComp
      case m: Map[_, _] =>
        val id = m.asInstanceOf[Map[String, Any]].getOrElse("id", "?")
        require(id == "zlib" || id == "zstd",
          s"$dir: unsupported compressor '$id' (zlib/zstd or none)")
        if (id == "zlib") Zlib else Zstd
      case other => throw new IllegalArgumentException(
        s"$dir: bad compressor '$other'")
    }
    val sep = za.getOrElse("dimension_separator", ".") match {
      case s: String if s == "." || s == "/" => s
      case other => throw new IllegalArgumentException(
        s"$dir: bad dimension_separator '$other'")
    }
    val dims = attrs.get("_ARRAY_DIMENSIONS") match {
      case Some(l: List[_]) => l.map(_.toString)
      case _                => Nil
    }
    val fill = za.getOrElse("fill_value", null) match {
      case null => dt.noDataValue
      case v    => asDouble(v, "fill_value")
    }
    ArrayMeta(FileIO.name(dir), dir, shape, chunks, dt, bo, fill,
      comp, sep, dims, attrs)
  }

  // ------------------------------------------------------------- chunks

  private def inflate(raw: Array[Byte], cap: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(math.min(cap, 1 << 20))
    val buf = new Array[Byte](65536)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput())
          throw new IllegalArgumentException("zarr: truncated zlib chunk")
        out.write(buf, 0, n)
        if (out.size() > cap) // decompression bomb guard
          throw new IllegalArgumentException(
            s"zarr: chunk inflates past its ${cap}-byte shape")
      }
    } finally inf.end()
    out.toByteArray
  }

  /** Inverse of the chunk compression. `cap` bounds the inflated size
    * (hostile input must fail loudly, never OOM). */
  private def decompress(raw: Array[Byte], comp: Compression,
      cap: Int): Array[Byte] = comp match {
    case NoComp => raw
    case Zlib => inflate(raw, cap)
    case Gzip =>
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw), 65536)
      try {
        val out = new java.io.ByteArrayOutputStream(math.min(cap, 1 << 20))
        val buf = new Array[Byte](65536)
        var k = in.read(buf)
        while (k >= 0) {
          out.write(buf, 0, k)
          require(out.size() <= cap,
            s"zarr: gzip chunk inflates past its $cap-byte shape")
          k = in.read(buf)
        }
        out.toByteArray
      } finally in.close()
    case Zstd =>
      val sz = com.github.luben.zstd.Zstd.getFrameContentSize(raw)
      require(sz >= 0 && sz <= cap,
        s"zarr: zstd chunk declares $sz bytes (cap $cap)")
      val out = new Array[Byte](sz.toInt)
      val n = com.github.luben.zstd.Zstd.decompress(out, raw)
      require(n == sz, s"zarr: zstd chunk decoded $n of $sz bytes")
      out
  }

  private def compress(raw: Array[Byte], comp: Compression): Array[Byte] =
    comp match {
      case NoComp => raw
      case Zlib => deflate(raw)
      case Gzip =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(raw); gz.close()
        bos.toByteArray
      case Zstd => com.github.luben.zstd.Zstd.compress(raw, 3)
    }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def decodeValue(bb: ByteBuffer, dt: DType): Double = dt match {
    case DType.Bool | DType.I1 => bb.get().toDouble
    case DType.U1 => (bb.get() & 0xFF).toDouble
    case DType.I2 => bb.getShort().toDouble
    case DType.U2 => (bb.getShort() & 0xFFFF).toDouble
    case DType.I4 => bb.getInt().toDouble
    case DType.U4 => (bb.getInt().toLong & 0xFFFFFFFFL).toDouble
    case DType.I8 => bb.getLong().toDouble
    case DType.U8 =>
      val l = bb.getLong()
      if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552e19
    case DType.F4 => bb.getFloat().toDouble
    case _        => bb.getDouble()
  }

  /** Decode one chunk file into doubles (full padded chunk size); a
    * missing chunk is all-fill (the Zarr sparse-store contract). For a
    * sharded array the "chunk" is a shard and every inner chunk is
    * materialized. */
  def readChunk(m: ArrayMeta, idx: Seq[Int]): Array[Double] =
    m.shard match {
      case Some(sh) => readShard(m, sh, idx, _ => true)
      case None =>
        val n = m.chunks.product
        val p = FileIO.child(m.dir, m.chunkKey(idx))
        if (!FileIO.exists(p)) return Array.fill(n)(m.fill)
        val raw0 = FileIO.readAllBytes(p)
        val raw = decompress(raw0, m.comp, n * m.dtype.size)
        require(raw.length >= n * m.dtype.size,
          s"$p: chunk has ${raw.length} bytes, needs ${n * m.dtype.size}")
        val bb = ByteBuffer.wrap(raw).order(m.bo)
        val out = new Array[Double](n)
        var i = 0
        while (i < n) { out(i) = decodeValue(bb, m.dtype); i += 1 }
        out
    }

  /** Copy an inner-chunk block into (or out of) a padded outer-chunk
    * array, C order, any rank — runs along the contiguous last dim. */
  private def copyBlock(outerArr: Array[Double], outerShape: Seq[Int],
      innerArr: Array[Double], innerShape: Seq[Int], blockIdx: Seq[Int],
      toOuter: Boolean): Unit = {
    val nd = outerShape.length
    val oStr = new Array[Int](nd); val iStr = new Array[Int](nd)
    var s = 1
    var d = nd - 1
    while (d >= 0) { oStr(d) = s; s *= outerShape(d); d -= 1 }
    s = 1; d = nd - 1
    while (d >= 0) { iStr(d) = s; s *= innerShape(d); d -= 1 }
    var base = 0
    d = 0
    while (d < nd) { base += blockIdx(d) * innerShape(d) * oStr(d); d += 1 }
    val n = innerShape.product
    val lastLen = innerShape(nd - 1)
    var i = 0
    while (i < n) {
      var rem = i; var off = base; var k = 0
      while (k < nd - 1) {
        val c = rem / iStr(k); rem -= c * iStr(k); off += c * oStr(k); k += 1
      }
      if (toOuter) System.arraycopy(innerArr, i, outerArr, off, lastLen)
      else System.arraycopy(outerArr, off, innerArr, i, lastLen)
      i += lastLen
    }
  }

  /** Assemble one shard into a padded outer-chunk array, reading ONLY
    * the inner chunks `want` accepts (plus the fixed-size index): the
    * index footer gives each inner chunk's byte range, so this is a
    * handful of positioned reads — never the whole shard object. */
  def readShard(m: ArrayMeta, sh: Shard, idx: Seq[Int],
      want: Seq[Int] => Boolean): Array[Double] = {
    val n = m.chunks.product
    val out = Array.fill(n)(m.fill)
    val p = FileIO.child(m.dir, m.chunkKey(idx))
    if (!FileIO.exists(p)) return out
    val innerGrid = m.chunks.zip(sh.inner).map { case (c, i) => c / i }
    val nInner = innerGrid.product
    val idxLen = nInner * 16 + (if (sh.indexCrc) 4 else 0)
    val fileLen = FileIO.size(p)
    require(fileLen >= idxLen,
      s"$p: shard of $fileLen bytes smaller than its $idxLen-byte index")
    val innerN = sh.inner.product
    val ch = PositionedReader.open(p)
    try {
      val idxBuf = Grib.readAt(ch,
        if (sh.indexAtEnd) fileLen - idxLen else 0L, idxLen)
      val idxBytes = idxBuf.array()
      if (sh.indexCrc) {
        val crc = new java.util.zip.CRC32C
        crc.update(idxBytes, 0, nInner * 16)
        val stored = ByteBuffer.wrap(idxBytes, nInner * 16, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt & 0xFFFFFFFFL
        require(stored == crc.getValue,
          s"$p: shard index crc32c mismatch (index corrupt)")
      }
      val ib = ByteBuffer.wrap(idxBytes, 0, nInner * 16)
        .order(ByteOrder.LITTLE_ENDIAN)
      var ii = 0
      while (ii < nInner) {
        val off = ib.getLong(ii * 16)
        val len = ib.getLong(ii * 16 + 8)
        if (off != -1L || len != -1L) { // not the missing sentinel
          // decompose ii into the inner-chunk grid index (C order)
          var rem = ii; val bi = new Array[Int](innerGrid.length)
          var d = innerGrid.length - 1
          while (d >= 0) { bi(d) = rem % innerGrid(d); rem /= innerGrid(d); d -= 1 }
          val biSeq = bi.toSeq
          if (want(biSeq)) {
            require(off >= 0 && len >= 0 && len <= Int.MaxValue &&
              off + len <= fileLen,
              s"$p: inner chunk $ii byte range ($off, $len) leaves the shard")
            val raw = decompress(
              Grib.readAt(ch, off, len.toInt).array(), m.comp,
              innerN * m.dtype.size)
            require(raw.length >= innerN * m.dtype.size,
              s"$p: inner chunk $ii has ${raw.length} bytes, " +
                s"needs ${innerN * m.dtype.size}")
            val bb = ByteBuffer.wrap(raw).order(m.bo)
            val vals = new Array[Double](innerN)
            var i = 0
            while (i < innerN) { vals(i) = decodeValue(bb, m.dtype); i += 1 }
            copyBlock(out, m.chunks, vals, sh.inner, biSeq, toOuter = true)
          }
        }
        ii += 1
      }
    } finally ch.close()
    out
  }

  /** Whole small array (coordinate variables) as doubles. */
  def readWholeArray(m: ArrayMeta): Array[Double] = {
    require(m.ndim == 1, s"${m.dir}: expected a 1-D array")
    val out = new Array[Double](m.shape.head)
    val nChunks = (m.shape.head + m.chunks.head - 1) / m.chunks.head
    var c = 0
    while (c < nChunks) {
      val ch = readChunk(m, Seq(c))
      val base = c * m.chunks.head
      var i = 0
      while (i < m.chunks.head && base + i < out.length) {
        out(base + i) = ch(i); i += 1
      }
      c += 1
    }
    out
  }

  // ------------------------------------------------------------- reader

  /** Everything a RasterBlock needs; reads only the JSON documents and
    * the 1-D coordinate arrays — no data chunk is touched. */
  case class Meta(root: String, data: ArrayMeta, w: Int, h: Int,
      timesMs: Seq[Long], cellSize: Double, originX: Double, originY: Double,
      yAscending: Boolean, noDataRaw: Double, scale: Double, offset: Double,
      projection: String) {
    def scaled: Boolean = scale != 1.0 || offset != 0.0
    def noData: Double = if (scaled) DType.F8.noDataValue else noDataRaw
    def outDtype: DType = if (scaled) DType.F8 else data.dtype
    def nFrames: Int = timesMs.length
  }

  private def uniformStep(a: Array[Double], path: String, what: String): Double = {
    require(a.nonEmpty, s"$path: empty $what coordinates")
    if (a.length == 1) 0.0
    else {
      val d = a(1) - a(0)
      require(d != 0.0, s"$path: zero $what spacing")
      var i = 2
      while (i < a.length) {
        require(math.abs((a(i) - a(i - 1)) - d) <= 1e-6 * math.abs(d),
          s"$path: non-uniform $what spacing (regular grid required)")
        i += 1
      }
      d
    }
  }

  def readMeta(url: String, projectionArg: String = "",
      varName: String = ""): Meta = {
    val root = url
    require(FileIO.isDirectory(root), s"$url: not a zarr directory store")
    val zmeta = FileIO.child(root, ".zmetadata")
    val v3Group = {
      val zj = jsonMap(FileIO.child(root, "zarr.json"))
      zj.nonEmpty && {
        require(asDouble(zj.getOrElse("zarr_format", 0L), "zarr_format") == 3 &&
          zj.getOrElse("node_type", "") == "group",
          s"$url: root zarr.json is not a v3 group document")
        true
      }
    }
    require(v3Group || FileIO.exists(FileIO.child(root, ".zgroup")) ||
      FileIO.exists(zmeta),
      s"$url: missing .zgroup / zarr.json (array-only stores are not " +
        "supported — point at the group directory)")
    // consolidated metadata (the xarray convention): every .zarray/.zattrs
    // rides in ONE .zmetadata document — one object read instead of 2N on
    // an object store. Preferred when present; the per-array files remain
    // the fallback.
    val arrays: Seq[ArrayMeta] =
      if (FileIO.exists(zmeta)) {
        val doc = jsonMap(zmeta)
        require(asDouble(doc.getOrElse("zarr_consolidated_format", 1L),
          "zarr_consolidated_format") == 1,
          s"$url: unsupported consolidated metadata format")
        val md = doc.getOrElse("metadata", Map.empty) match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case _ => throw new IllegalArgumentException(
            s"$url: .zmetadata has no metadata object")
        }
        def mdMap(k: String): Map[String, Any] = md.getOrElse(k, Map.empty) match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case _ => Map.empty
        }
        val names = md.keys.collect {
          case k if k.endsWith("/.zarray") =>
            k.substring(0, k.length - "/.zarray".length)
        }.toSeq.sorted
        require(names.nonEmpty, s"$url: no arrays in consolidated metadata")
        require(names.forall(n => !n.contains("/")),
          s"$url: nested groups in consolidated metadata not supported")
        names.map(n => buildArrayMeta(FileIO.child(root, n),
          mdMap(s"$n/.zarray"), mdMap(s"$n/.zattrs")))
      } else {
        FileIO.list(root)
          .filter(d => FileIO.isDirectory(d) &&
            (FileIO.exists(FileIO.child(d, ".zarray")) ||
              FileIO.exists(FileIO.child(d, "zarr.json"))))
          .map(readArrayMeta).sortBy(_.name)
      }
    require(arrays.nonEmpty, s"$url: no arrays in the group")
    val byName = arrays.map(a => a.name -> a).toMap
    def isCoord(a: ArrayMeta) = a.ndim == 1 && a.dims == Seq(a.name)
    val data =
      if (varName.nonEmpty) byName.getOrElse(varName,
        throw new IllegalArgumentException(s"$url: no array '$varName'"))
      else arrays.find(a => (a.ndim == 2 || a.ndim == 3) && !isCoord(a))
        .getOrElse(throw new IllegalArgumentException(
          s"$url: no 2-D/3-D data array found"))
    require(data.ndim == 2 || data.ndim == 3,
      s"$url: array ${data.name} is not 2-D/3-D")
    require(data.dims.length == data.ndim,
      s"$url: array ${data.name} lacks the _ARRAY_DIMENSIONS attribute " +
        "(xarray convention) naming its dimensions")
    val Seq(yDim, xDim) = data.dims.takeRight(2)
    def coord(dim: String, what: String): ArrayMeta =
      byName.get(dim).filter(isCoord).getOrElse(
        throw new IllegalArgumentException(
          s"$url: no 1-D coordinate array '$dim' for the $what dimension"))
    val xs = readWholeArray(coord(xDim, "x"))
    val ys = readWholeArray(coord(yDim, "y"))
    val w = data.shape(data.ndim - 1); val h = data.shape(data.ndim - 2)
    require(xs.length == w && ys.length == h,
      s"$url: coordinate length mismatch")
    val dx = uniformStep(xs, root, "x"); val dyRaw = uniformStep(ys, root, "y")
    require(w == 1 || dx > 0, s"$url: descending x axis not supported")
    val cell = if (w > 1) dx else math.abs(dyRaw)
    require(cell > 0, s"$url: cannot determine cell size from 1×1 grid")
    val dy = if (h > 1) math.abs(dyRaw) else cell
    require(math.abs(cell - dy) <= 1e-9 * math.max(cell, dy),
      s"$url: non-square pixels $cell × $dy not supported")
    val yAsc = h > 1 && dyRaw > 0
    val originX = xs(0) - cell / 2 // CF coordinates are CELL CENTERS
    val originY = (if (yAsc) ys(h - 1) else ys(0)) + cell / 2

    val timesMs: Seq[Long] =
      if (data.ndim == 3) {
        val tc = coord(data.dims.head, "time")
        val units = tc.attrs.get("units").map(_.toString).getOrElse(
          throw new IllegalArgumentException(
            s"$url: time array '${tc.name}' has no CF units attribute"))
        NetCdf.parseCfTimes(units, readWholeArray(tc))
      } else Seq(0L)
    require(timesMs.length == (if (data.ndim == 3) data.shape.head else 1),
      s"$url: time length mismatch")

    val scale = data.attrs.get("scale_factor")
      .map(asDouble(_, "scale_factor")).getOrElse(1.0)
    val offset = data.attrs.get("add_offset")
      .map(asDouble(_, "add_offset")).getOrElse(0.0)
    val fill = data.attrs.get("_FillValue")
      .map(asDouble(_, "_FillValue")).getOrElse(data.fill)
    val projection = data.attrs.get("grid_mapping").map(_.toString)
      .flatMap(gm => byName.get(gm).map(_.attrs).orElse(
          Some(jsonMap(FileIO.child(FileIO.child(root, gm), ".zattrs")))))
      .flatMap(a => a.get("spatial_ref").orElse(a.get("crs_wkt")))
      .map(wkt => Proj.normalize(wkt.toString)) match {
      case Some(p) => p
      case None =>
        val xUnits = byName.get(xDim).flatMap(_.attrs.get("units"))
          .map(_.toString.toLowerCase).getOrElse("")
        if (xUnits.startsWith("degree")) "EPSG:4326"
        else GridFiles.resolveProjection(
          FileIO.child(root, "x"), projectionArg)
    }
    Meta(root, data, w, h, timesMs, cell, originX, originY, yAsc,
      fill, scale, offset, projection)
  }

  /** Decode the requested frames (top-row-first doubles), touching only
    * the chunks that intersect them. `frames` indexes `timesMs`.
    * `window` — (y0, y1, x0, x1), half-open, ENGINE pixel coordinates
    * (top row first) — additionally prunes to the chunks intersecting
    * that region: the DSv2 spatial pushdown (an AOI read of a large
    * store opens only its chunks' objects). Pixels outside the window
    * are left unfilled in the result and must not be consumed. */
  def readFrames(m: Meta, frames: Seq[Int],
      window: Option[(Int, Int, Int, Int)] = None): Seq[Array[Double]] = {
    val d = m.data
    require(m.w.toLong * m.h <= (1L << 27),
      s"${m.root}: ${m.w}×${m.h} grid too large for a whole-frame read")
    val (cT, cY, cX) =
      if (d.ndim == 3) (d.chunks(0), d.chunks(1), d.chunks(2))
      else (1, d.chunks(0), d.chunks(1))
    val px = m.w * m.h
    val out = frames.map(_ => new Array[Double](px)).toArray
    val frameSet = frames.zipWithIndex.toMap
    val tChunks = frames.map(_ / cT).distinct.sorted
    val nCY = (m.h + cY - 1) / cY
    val nCX = (m.w + cX - 1) / cX
    // engine window -> FILE row range (ascending-y files store the
    // engine's top rows last)
    val keepChunk: (Int, Int) => Boolean = window match {
      case None => (_, _) => true
      case Some((y0, y1, x0, x1)) =>
        val (fy0, fy1) =
          if (m.yAscending) (m.h - y1, m.h - y0) else (y0, y1)
        (cy, cx) =>
          cy * cY < fy1 && (cy + 1) * cY > fy0 &&
            cx * cX < x1 && (cx + 1) * cX > x0
    }
    for (tc <- tChunks; cy <- 0 until nCY; cx <- 0 until nCX
         if keepChunk(cy, cx)) {
      val idx = if (d.ndim == 3) Seq(tc, cy, cx) else Seq(cy, cx)
      val chunk = d.shard match {
        case Some(sh) if d.ndim == 3 =>
          // intra-shard pruning: decode only the inner chunks whose
          // time slab intersects the requested frames
          val innerCT = sh.inner.head
          readShard(d, sh, idx, inner => {
            val f0 = tc * cT + inner.head * innerCT
            frames.exists(f => f >= f0 && f < f0 + innerCT)
          })
        case Some(sh) => readShard(d, sh, idx, _ => true)
        case None => readChunk(d, idx)
      }
      var tIn = 0
      while (tIn < cT) {
        val f = tc * cT + tIn
        frameSet.get(f).foreach { oi =>
          val band = out(oi)
          var ry = 0
          while (ry < cY) {
            val srcY = cy * cY + ry // row index in FILE order
            if (srcY < m.h) {
              // file rows follow the y coordinate; engine rows are
              // top-first, so an ascending-y file reads bottom-up
              val dstY = if (m.yAscending) m.h - 1 - srcY else srcY
              var rx = 0
              while (rx < cX) {
                val srcX = cx * cX + rx
                if (srcX < m.w) {
                  val v = chunk((tIn * cY + ry) * cX + rx)
                  band(dstY * m.w + srcX) =
                    if (v == m.noDataRaw || (v.isNaN && m.noDataRaw.isNaN))
                      m.noData
                    else if (m.scaled) v * m.scale + m.offset
                    else v
                }
                rx += 1
              }
            }
            ry += 1
          }
        }
        tIn += 1
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------------- writer

  private def encodeArray(vals: Array[Double], dt: DType,
      bo: ByteOrder): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * dt.size).order(bo)
    var i = 0
    while (i < vals.length) {
      val v = vals(i)
      dt match {
        case DType.Bool | DType.I1 | DType.U1 =>
          bb.put(math.rint(v).toInt.toByte)
        case DType.I2 | DType.U2 => bb.putShort(math.rint(v).toInt.toShort)
        case DType.I4 | DType.U4 => bb.putInt(math.rint(v).toLong.toInt)
        case DType.I8 | DType.U8 => bb.putLong(math.rint(v).toLong)
        case DType.F4            => bb.putFloat(v.toFloat)
        case _                   => bb.putDouble(v)
      }
      i += 1
    }
    bb.array()
  }

  /** v3 data_type name of a DType. The spec names booleans "bool"
    * (one byte on the wire), not a uint alias. */
  private def v3TypeName(dt: DType): String =
    if (dt.kind == 'b') "bool"
    else (dt.kind match {
      case 'u' => "uint"; case 'i' => "int"; case _ => "float"
    }) + (dt.size * 8)

  private def writeArray(dir: String, shape: Seq[Int], chunks: Seq[Int],
      dt: DType, fill: Double, comp: Compression, dims: Seq[String],
      extraAttrs: Map[String, Any],
      chunkData: Seq[Int] => Array[Double], v3: Boolean = false,
      shardInner: Option[Seq[Int]] = None,
      writeChunks: Boolean = true): Unit = {
    require(shardInner.isEmpty || v3, "sharding is a v3-only layout")
    shardInner.foreach { inner =>
      require(inner.length == chunks.length && inner.forall(_ > 0) &&
        chunks.zip(inner).forall { case (c, i) => c % i == 0 },
        s"inner chunk shape ${inner.mkString("×")} must divide the " +
          s"shard shape ${chunks.mkString("×")}")
    }
    val fillJson: Any = // parent dirs are created per object write
      if (dt.kind == 'b') fill != 0.0 // v3 spec: bool fill is a JSON bool
      else if (fill.isNaN) "NaN"
      else if (dt.isInt || fill.isWhole && math.abs(fill) < 1e15) fill.toLong
      else fill
    if (v3) {
      val innerCodecs: Seq[Any] =
        Seq(scala.collection.immutable.ListMap("name" -> "bytes",
          "configuration" -> Map("endian" -> "little"))) ++
          (comp match {
            case NoComp => Nil
            case Zstd => Seq(scala.collection.immutable.ListMap(
              "name" -> "zstd",
              "configuration" -> scala.collection.immutable.ListMap(
                "level" -> 3L, "checksum" -> false)))
            case _ => Seq(scala.collection.immutable.ListMap(
              "name" -> "gzip", "configuration" -> Map("level" -> 6L)))
          })
      val codecs: Seq[Any] = shardInner match {
        case None => innerCodecs
        case Some(inner) => Seq(scala.collection.immutable.ListMap(
          "name" -> "sharding_indexed",
          "configuration" -> scala.collection.immutable.ListMap(
            "chunk_shape" -> inner,
            "codecs" -> innerCodecs,
            "index_codecs" -> Seq(
              scala.collection.immutable.ListMap("name" -> "bytes",
                "configuration" -> Map("endian" -> "little")),
              Map("name" -> "crc32c")),
            "index_location" -> "end")))
      }
      val doc = scala.collection.immutable.ListMap(
        "zarr_format" -> 3L, "node_type" -> "array",
        "shape" -> shape, "data_type" -> v3TypeName(dt),
        "chunk_grid" -> scala.collection.immutable.ListMap(
          "name" -> "regular",
          "configuration" -> Map("chunk_shape" -> chunks)),
        "chunk_key_encoding" -> scala.collection.immutable.ListMap(
          "name" -> "default", "configuration" -> Map("separator" -> "/")),
        "fill_value" -> fillJson,
        "codecs" -> codecs,
        "attributes" -> (scala.collection.immutable.ListMap(
          "_ARRAY_DIMENSIONS" -> dims) ++ extraAttrs),
        "dimension_names" -> dims)
      FileIO.writeAll(FileIO.child(dir, "zarr.json"),
        Json.render(doc).getBytes("UTF-8"))
    } else {
      val za = scala.collection.immutable.ListMap(
        "zarr_format" -> 2L, "shape" -> shape, "chunks" -> chunks,
        "dtype" -> dtypeStr(dt),
        "compressor" -> (if (comp != NoComp)
          scala.collection.immutable.ListMap("id" -> "zlib", "level" -> 6L)
        else null),
        "fill_value" -> fillJson, "order" -> "C", "filters" -> null)
      FileIO.writeAll(FileIO.child(dir, ".zarray"),
        Json.render(za).getBytes("UTF-8"))
      FileIO.writeAll(FileIO.child(dir, ".zattrs"), Json.render(
        scala.collection.immutable.ListMap("_ARRAY_DIMENSIONS" -> dims) ++
          extraAttrs).getBytes("UTF-8"))
    }
    val grid = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def rec(prefix: Seq[Int], d: Int): Unit =
      if (d == grid.length) {
        val bytes = shardInner match {
          case Some(inner) =>
            shardObjectBytes(chunkData(prefix), chunks, inner, dt, comp)
          case None => compress(
            encodeArray(chunkData(prefix), dt, ByteOrder.LITTLE_ENDIAN), comp)
        }
        val key = if (v3) "c/" + prefix.mkString("/")
          else prefix.mkString(".")
        FileIO.writeAll(FileIO.child(dir, key), bytes)
      } else (0 until grid(d)).foreach(i => rec(prefix :+ i, d + 1))
    if (writeChunks) rec(Nil, 0)
  }

  /** Assemble ONE v3 `sharding_indexed` chunk object: the shard's
    * inner-chunk payloads in C order, then the (offset, nbytes)
    * u64-LE index protected by crc32c, index at the object's END —
    * exactly the layout [[readShard]] reads back with positioned
    * byte-range requests. `outer` is the padded shard array of shape
    * `chunks`; `inner` must divide it. Pure bytes-in/bytes-out so a
    * DISTRIBUTED writer (one executor task per shard) can emit shard
    * objects without any driver involvement. */
  def shardObjectBytes(outer: Array[Double], chunks: Seq[Int],
      inner: Seq[Int], dt: DType, comp: Compression): Array[Byte] = {
    require(inner.length == chunks.length && inner.forall(_ > 0) &&
      chunks.zip(inner).forall { case (c, i) => c % i == 0 },
      s"inner chunk shape ${inner.mkString("x")} must divide the " +
        s"shard shape ${chunks.mkString("x")}")
    require(outer.length == chunks.product, "shard array size mismatch")
    val innerGrid = chunks.zip(inner).map { case (c, i) => c / i }
    val nInner = innerGrid.product
    val innerN = inner.product
    val payload = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(nInner * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    var off = 0L
    var ii = 0
    while (ii < nInner) {
      var rem = ii; val bi = new Array[Int](innerGrid.length)
      var d = innerGrid.length - 1
      while (d >= 0) { bi(d) = rem % innerGrid(d); rem /= innerGrid(d); d -= 1 }
      val vals = new Array[Double](innerN)
      copyBlock(outer, chunks, vals, inner, bi.toSeq, toOuter = false)
      val bytes = compress(
        encodeArray(vals, dt, ByteOrder.LITTLE_ENDIAN), comp)
      index.putLong(off); index.putLong(bytes.length.toLong)
      payload.write(bytes); off += bytes.length
      ii += 1
    }
    val crc = new java.util.zip.CRC32C
    crc.update(index.array(), 0, nInner * 16)
    payload.write(index.array())
    val crcBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    crcBuf.putInt(crc.getValue.toInt)
    payload.write(crcBuf.array())
    payload.toByteArray
  }

  /** The group document and the cell-center x/y/time coordinate arrays
    * plus the `spatial_ref` grid-mapping member of a (time,y,x) store —
    * everything but the data variable. Pixels must be square. */
  private def writeGroupAndCoords(root: String, w: Int, h: Int,
      bbox: Bbox, projection: String, timesMs: Seq[Long],
      v3: Boolean): Unit = {
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"zarr written here requires square pixels (got $cx x $cy)")
    val attrs = scala.collection.immutable.ListMap(
      "Conventions" -> "CF-1.8", "source" -> "graft zarr export")
    if (v3)
      FileIO.writeAll(FileIO.child(root, "zarr.json"), Json.render(
        scala.collection.immutable.ListMap(
          "zarr_format" -> 3L, "node_type" -> "group",
          "attributes" -> attrs)).getBytes("UTF-8"))
    else {
      FileIO.writeAll(FileIO.child(root, ".zgroup"),
        Json.render(Map("zarr_format" -> 2L)).getBytes("UTF-8"))
      FileIO.writeAll(FileIO.child(root, ".zattrs"),
        Json.render(attrs).getBytes("UTF-8"))
    }
    val nT = timesMs.length
    writeArray(FileIO.child(root, "x"), Seq(w), Seq(w), DType.F8, Double.NaN,
      NoComp, Seq("x"), Map("standard_name" -> "projection_x_coordinate"),
      _ => Array.tabulate(w)(i => bbox.x1 + (i + 0.5) * cx), v3 = v3)
    writeArray(FileIO.child(root, "y"), Seq(h), Seq(h), DType.F8, Double.NaN,
      NoComp, Seq("y"), Map("standard_name" -> "projection_y_coordinate"),
      _ => Array.tabulate(h)(i => bbox.y2 - (i + 0.5) * cx), v3 = v3)
    writeArray(FileIO.child(root, "time"), Seq(nT), Seq(nT), DType.F8, Double.NaN,
      NoComp, Seq("time"), Map(
        "units" -> "milliseconds since 1970-01-01T00:00",
        "calendar" -> "standard"),
      _ => timesMs.map(_.toDouble).toArray, v3 = v3)
    val wkt = WktSrs.toWkt(projection).getOrElse(projection)
    writeArray(FileIO.child(root, "spatial_ref"), Seq(1), Seq(1), DType.I4, 0.0,
      NoComp, Seq("spatial_ref"), Map(
        "spatial_ref" -> wkt, "crs_wkt" -> wkt),
      _ => Array(0.0), v3 = v3)
  }

  /** Write a (time,y,x) stack as one Zarr v2 group: data variable with
    * per-frame spatial chunking + zlib, cell-center x/y/time coordinate
    * arrays, CRS as a `spatial_ref` grid-mapping member. y coordinates
    * are written DESCENDING (top row first), matching the engine's row
    * order, so chunk payloads need no flip on either side. */
  def write(url: String, bands: Seq[Array[Double]], w: Int, h: Int,
      bbox: Bbox, noData: Double, projection: String, timesMs: Seq[Long],
      dtypeName: String = "float64", varName: String = "band1",
      chunkH: Int = 256, chunkW: Int = 256, zlib: Boolean = true,
      zarrVersion: Int = 2, shardSplit: Int = 0): Unit = {
    require(bands.nonEmpty && bands.forall(_.length == w * h),
      "band size must equal w*h")
    require(timesMs.length == bands.length, "one time per frame required")
    require(zarrVersion == 2 || zarrVersion == 3,
      s"zarrVersion must be 2 or 3, got $zarrVersion")
    require(shardSplit == 0 || zarrVersion == 3,
      "shardSplit needs zarrVersion = 3 (sharding_indexed is a v3 codec)")
    val v3 = zarrVersion == 3
    // v2 compresses with zlib; v3 with zstd (the zarr-python v3 default)
    val dataComp: Compression =
      if (!zlib) NoComp else if (v3) Zstd else Zlib
    val dt = DType.byName(dtypeName)
    val root = url
    writeGroupAndCoords(root, w, h, bbox, projection, timesMs, v3)
    val cH = math.min(chunkH, h); val cW = math.min(chunkW, w)
    val nT = bands.length
    val shardInner =
      if (shardSplit <= 0) None
      else {
        require(cH % shardSplit == 0 && cW % shardSplit == 0,
          s"shardSplit $shardSplit must divide the chunk $cH×$cW")
        Some(Seq(1, cH / shardSplit, cW / shardSplit))
      }
    writeArray(FileIO.child(root, varName), Seq(nT, h, w), Seq(1, cH, cW), dt,
      noData, dataComp, Seq("time", "y", "x"),
      Map("grid_mapping" -> "spatial_ref"), {
        case Seq(t, cyI, cxI) =>
          val band = bands(t)
          val out = new Array[Double](cH * cW)
          var ry = 0
          while (ry < cH) {
            val sy = cyI * cH + ry
            var rx = 0
            while (rx < cW) {
              val sx = cxI * cW + rx
              out(ry * cW + rx) =
                if (sy < h && sx < w) band(sy * w + sx) else noData
              rx += 1
            }
            ry += 1
          }
          out
        case other => throw new IllegalStateException(s"bad chunk $other")
      }, v3 = v3, shardInner = shardInner)
    // consolidated metadata (v2 only): every JSON document in ONE
    // .zmetadata object (the xarray convention) so cloud readers pay
    // one metadata GET
    if (!v3) {
      val members = Seq("x", "y", "time", "spatial_ref", varName)
      val mdb = scala.collection.immutable.ListMap.newBuilder[String, Any]
      Seq(".zgroup", ".zattrs").foreach(f =>
        mdb += (f -> Json.parse(FileIO.readString(FileIO.child(root, f)))))
      members.foreach { m =>
        Seq(".zarray", ".zattrs").foreach(f =>
          mdb += (s"$m/$f" -> Json.parse(
            FileIO.readString(FileIO.child(FileIO.child(root, m), f)))))
      }
      FileIO.writeAll(FileIO.child(root, ".zmetadata"), Json.render(
        scala.collection.immutable.ListMap(
          "metadata" -> mdb.result(),
          "zarr_consolidated_format" -> 1L)).getBytes("UTF-8"))
    }
  }

  /** Metadata-only skeleton of a v3 SHARDED (time,y,x) store for the
    * DISTRIBUTED write path: group document, x/y/time/spatial_ref
    * coordinate arrays and the data array's `zarr.json` declaring one
    * SHARD PER FRAME (shard shape (1, padH, padW), inner chunks
    * (1, chunkH, chunkW), crc32c index at the end). Data shard
    * objects `band1/c/<t>/0/0` are written by executor tasks via
    * [[shardObjectBytes]] — the driver never touches a data byte. A
    * frame never written stays a missing chunk = fill (the Zarr
    * sparse-store contract). */
  def writeStackMeta(url: String, w: Int, h: Int, bbox: Bbox,
      noData: Double, projection: String, timesMs: Seq[Long],
      dtypeName: String = "float64", varName: String = "band1",
      chunkH: Int = 256, chunkW: Int = 256,
      compress: Boolean = true): Unit = {
    require(timesMs.nonEmpty, "zarr: at least one frame time required")
    require(w > 0 && h > 0 && w.toLong * h <= (1L << 27),
      s"zarr: ${w}x$h frame too large for one shard (2^27 elements)")
    val dt = DType.byName(dtypeName)
    val root = url
    writeGroupAndCoords(root, w, h, bbox, projection, timesMs, v3 = true)
    val (cH, cW) = (math.min(chunkH, h), math.min(chunkW, w))
    writeArray(FileIO.child(root, varName),
      Seq(timesMs.length, h, w), frameShardShape(w, h, cH, cW), dt,
      noData, if (compress) Zstd else NoComp, Seq("time", "y", "x"),
      Map("grid_mapping" -> "spatial_ref"),
      _ => sys.error("metadata-only write"), v3 = true,
      shardInner = Some(Seq(1, cH, cW)), writeChunks = false)
  }

  /** The shard (outer chunk) shape of a one-shard-per-frame store:
    * frame-sized, padded UP to whole inner chunks so the inner shape
    * divides it (the v3 sharding requirement). */
  def frameShardShape(w: Int, h: Int, chunkH: Int, chunkW: Int): Seq[Int] =
    Seq(1, (h + chunkH - 1) / chunkH * chunkH,
      (w + chunkW - 1) / chunkW * chunkW)
}

/** Zarr v2 group source: the CF time coordinate IS the time axis (frame
  * instants come from the store). Metadata costs a few small JSON +
  * coordinate reads; data chunks wait until a frame is requested, and
  * only the chunks of the REQUESTED frames are read (`readFrames`). */
case class ZarrSource(url: String, projectionArg: String = "",
    varNameArg: String = "") extends RasterBlock {

  @transient private lazy val meta: Zarr.Meta =
    Zarr.readMeta(url, projectionArg, varNameArg)

  @transient private lazy val deltaMs: Option[Long] = {
    val t = meta.timesMs
    if (t.length <= 1) None
    else {
      val d = t(1) - t(0)
      require(t.sliding(2).forall(p => p(1) - p(0) == d),
        s"$url: non-equidistant time axis not supported")
      Some(d)
    }
  }

  @transient private lazy val memory: MemorySource = {
    val bands = Zarr.readFrames(meta, 0 until meta.nFrames)
    MemorySource(bands, meta.w, meta.h, meta.noData, meta.projection,
      meta.cellSize, meta.originX, meta.originY, meta.timesMs.head,
      deltaMs, meta.outDtype.name)
  }

  override def dtype: DType = meta.outDtype
  override def projection: String = meta.projection
  override def temporal: Boolean = meta.data.ndim == 3
  override def timeDeltaMs: Option[Long] = deltaMs
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(meta.timesMs.head),
      Instant.ofEpochMilli(meta.timesMs.last)))
  override def extent: Option[Bbox] = Some(Bbox(
    meta.originX, meta.originY - meta.h * meta.cellSize,
    meta.originX + meta.w * meta.cellSize, meta.originY))
  override def cellSize: Option[Double] = Some(meta.cellSize)
  override def allTimes: Seq[Instant] = meta.timesMs.map(Instant.ofEpochMilli)

  /** Chunk-pruned read: a time-sliced request decodes ONLY the chunks of
    * the selected frames (the Zarr scale story); a full-stack request
    * uses the cached whole-store load. */
  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val sel = timesIn(req.start, req.stop)
    if (sel.isEmpty || sel.length == meta.nFrames) memory.frame(req)
    else {
      val idx = allTimes.zipWithIndex.toMap
      val bands = Zarr.readFrames(meta, sel.map(idx))
      MemorySource(bands, meta.w, meta.h, meta.noData, meta.projection,
        meta.cellSize, meta.originX, meta.originY, sel.head.toEpochMilli,
        if (temporal) deltaMs else None, meta.outDtype.name).frame(req)
    }
  }
}

/** Zarr sink: the WHOLE requested time stack goes into one group (time
  * dimension = frames), carrying the true frame instants. */
case class ZarrSink(source: RasterBlock, url: String,
    varName: String = "band1", chunkH: Int = 256, chunkW: Int = 256,
    compress: Boolean = true, zarrVersion: Int = 2, shardSplit: Int = 0) {
  def write(req: RasterRequest)(implicit spark: SparkSession): String = {
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    val root = if (url.toLowerCase.endsWith(".zarr")) url
               else s"$url/stack.zarr"
    Zarr.write(root, res.values, req.width, req.height, req.bbox,
      res.noDataValue, req.projection, res.times.map(_.toEpochMilli),
      source.dtype.name, varName, chunkH, chunkW, compress, zarrVersion,
      shardSplit)
    root
  }
}

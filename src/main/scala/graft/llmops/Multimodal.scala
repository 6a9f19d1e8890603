package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: opaque `binary` payloads + typed metadata, with the
  * decode step STUBBED (no codec libraries in this environment) behind
  * a deterministic fake, and everything around it — schema, batch
  * shape, partition-level iteration, feature vectors — real and tested
  * against the reference's FITS cutouts (`cutoutScience.stampData`,
  * `fink_filters/ztf/livestream/filter_new_hostless/filter.py:72-73`).
  *
  * Scale design: all per-item work is a map stage (mapPartitions or
  * codegen'd expressions); nothing shuffles payload bytes except an
  * explicit repartition the caller opts into. Feature vectors (KBs)
  * flow onward; payloads can be dropped right after extraction.
  */
object Multimodal {

  /** Container-format sniffing from magic bytes — pure expressions. */
  def formatOf(payload: Column): Column =
    when(payload.isNull, lit(null).cast("string"))
      .when(substring(payload, 1, 6) === lit("SIMPLE".getBytes), "fits")
      .when(substring(payload, 1, 3) ===
        lit(Array(0xFF, 0xD8, 0xFF).map(_.toByte)), "jpeg")
      .when(substring(payload, 1, 4) ===
        lit(Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt).map(_.toByte)), "png")
      .when(substring(payload, 1, 2) ===
        lit(Array(0x1F, 0x8B).map(_.toByte)), "gzip")
      .otherwise("unknown")

  /** Typed metadata struct: length, format, 64-bit content id. */
  def metaStruct(payload: Column): Column = struct(
    octet_length(payload).cast("long").as("n_bytes"),
    formatOf(payload).as("format"),
    xxhash64(payload).as("content_id"))

  /** Deterministic frame/chunk sampling of a binary payload: n evenly
    * spaced fixed-size slices (the video frame-sample shape; real codecs
    * would seek keyframes — the SLICING is the real plumbing, the
    * decode of each slice stays a stub).
    */
  def sampleChunks(payload: Column, n: Int, chunkBytes: Int): Column = {
    val len = octet_length(payload)
    array((0 until n).map { i =>
      val off = (len - chunkBytes) * i / math.max(n - 1, 1) + 1
      substring(payload, greatest(off, lit(1)), lit(chunkBytes))
    }: _*)
  }

  /** Output schema of [[withByteFeatures]]. */
  val byteFeaturesField: StructType = StructType(Seq(
    StructField("n_bytes", LongType),
    StructField("mean_byte", DoubleType),
    StructField("entropy", DoubleType),
    StructField("histogram", ArrayType(DoubleType))))

  /** REAL byte-level feature extraction (length, mean, Shannon entropy,
    * 16-bin normalized histogram) over a binary column, as a
    * partition-level pass — the genuine per-item imperative loop the
    * decode stage will later slot into. Appends `outCol` with
    * [[byteFeaturesField]].
    */
  def withByteFeatures(df: DataFrame, payloadCol: String,
      outCol: String = "byte_features"): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(outCol, byteFeaturesField))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(idx)) null
          else r.get(idx).asInstanceOf[Array[Byte]]
        val feat = if (bytes == null) null else {
          val hist = new Array[Double](16)
          var sum = 0L
          bytes.foreach { b => val u = b & 0xFF; hist(u >> 4) += 1; sum += u }
          val n = bytes.length.toDouble
          var ent = 0.0
          val histN = hist.map { c =>
            if (c > 0) { val p = c / n; ent -= p * math.log(p) / math.log(2) }
            c / n
          }
          Row(bytes.length.toLong, sum / n, ent, histN.toSeq)
        }
        Row.fromSeq(r.toSeq :+ feat)
      }
    }(enc)
  }

  /** STUB image decode: a real deployment plugs a codec here (the
    * reference decodes FITS stamps for the ELEPHANT KS test, G8). The
    * stub derives a deterministic fake (width, height, channels, 8-dim
    * feature vector) from the payload hash so downstream plumbing is
    * exercised end-to-end with stable values. Clearly NOT a real
    * decoder.
    */
  def decodeImageStub(payload: Column): Column = {
    val h = xxhash64(payload)
    struct(
      (pmod(h, lit(1024L)) + 32L).cast("int").as("width"),
      (pmod(shiftright(h, 10), lit(1024L)) + 32L).cast("int").as("height"),
      lit(1).cast("int").as("channels"),
      array((0 until 8).map(i =>
        (pmod(xxhash64(payload, lit(i)), lit(1000L)).cast("double") / 1000.0)): _*)
        .as("features"))
  }

  /** Resize plumbing over a decoded-image struct (the
    * [[decodeImageStub]] schema): aspect-preserving fit into a
    * `maxSide` box — the geometry math (scale factor, rounded target
    * dims) is REAL and is what a preprocessing pipeline keys batching
    * and memory budgets on; the pixel resample itself stays with the
    * decode stub. Pure expressions, so the resize rides the same map
    * stage as the decode.
    */
  def resizeFit(decoded: Column, maxSide: Int): Column = {
    val w = decoded.getField("width").cast("double")
    val h = decoded.getField("height").cast("double")
    val scale = least(lit(maxSide) / greatest(w, h), lit(1.0))
    struct(
      round(w * scale).cast("int").as("width"),
      round(h * scale).cast("int").as("height"),
      decoded.getField("channels").as("channels"),
      decoded.getField("features").as("features"),
      round(scale, 6).as("scale"))
  }

  /** Content-level image near-duplicates via the perceptual difference
    * hash ([[graft.expressions.ImageDHash]]) — the q24 SimHash banding
    * shape applied to raster space: hash each image, explode 4×16-bit
    * band keys, candidates share ANY band, `bit_count(xor)` Hamming
    * verifies every candidate exactly (precision exact, recall the
    * standard banding bound: a pair is missed only when all four bands
    * differ, i.e. its ≤ maxHamming bit flips spread across all bands).
    *
    * Scale shape: the hash is a map-stage codegen'd kernel over the
    * raster; the self-join carries (img_id, band, bucket, hash) — 24
    * bytes/row, never pixels; exchanges are equi-joins on (band,
    * bucket). `imgs` must carry (`idCol`, `pxCol` row-major
    * array<double> of exactly w·h pixels).
    */
  def imageDHashPairs(imgs: DataFrame, idCol: String, pxCol: String,
      w: Int, h: Int, maxHamming: Int): DataFrame = {
    val d = imgs.select(col(idCol).as("img_id"),
      graft.expressions.ImageDHash.dhash(col(pxCol), lit(w), lit(h))
        .as("dh"))
    val chunked = d.select(col("img_id"), col("dh"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("band"),
          shiftright(col("dh"), c * 16).bitwiseAND(0xFFFF).as("bk"))
      }: _*)).as("b"))
      .select(col("img_id"), col("dh"),
        col("b.band").as("band"), col("b.bk").as("bk"))
    val a = chunked.select(col("band"), col("bk"),
      col("img_id").as("img_a"), col("dh").as("dh_a"))
    val b = chunked.select(col("band"), col("bk"),
      col("img_id").as("img_b"), col("dh").as("dh_b"))
    val hamming = bit_count(col("dh_a").bitwiseXOR(col("dh_b"))).cast("int")
    // the Hamming cut runs BELOW the distinct: hamming is functionally
    // determined by (img_a, img_b), so filtering first is semantics-
    // preserving and keeps every band-collision pair the cut would drop
    // out of the dedup exchange — on replica-heavy corpora (every band
    // bucket full of identical hashes) that is the dominant pair volume
    a.join(b, Seq("band", "bk"))
      .filter(col("img_a") < col("img_b"))
      .select(col("img_a"), col("img_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("img_a", "img_b")
  }

  /** The INGEST form of [[imageDHashPairs]] — the q46 shape in
    * perceptual-hash space: a landing batch of images drops every
    * member whose dHash is within `maxHamming` of a LANDED hash
    * sharing any 16-bit band (landed always wins), then applies the
    * greedy min-id rule within the batch. The landed side is the
    * (img_id, dhash) INDEX — 16 bytes/row, the only thing ingest ever
    * reads back; at scale it lives banded/bucketed and a batch is one
    * band-key equi-join probe. Returns surviving batch rows.
    */
  def imageDHashIncrement(batch: DataFrame, landedIndex: DataFrame,
      idCol: String, pxCol: String, w: Int, h: Int,
      maxHamming: Int): DataFrame = {
    val hashed = batch.withColumn("__dh",
      graft.expressions.ImageDHash.dhash(col(pxCol), lit(w), lit(h)))
    def banded(df: DataFrame, id: String, dh: String) =
      df.select(col(id), col(dh),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("band"),
            shiftright(col(dh), c * 16).bitwiseAND(0xFFFF).as("bk"))
        }: _*)).as("b"))
        .select(col(id), col(dh), col("b.band").as("band"),
          col("b.bk").as("bk"))
    val bb = banded(hashed.select(col(idCol), col("__dh")), idCol, "__dh")
    def hits(side: DataFrame, pred: org.apache.spark.sql.Column) =
      bb.join(side, Seq("band", "bk"))
        .filter(pred)
        .filter(bit_count(col("__dh").bitwiseXOR(col("odh")))
          .cast("int") <= maxHamming)
        .select(idCol).distinct()
    val vsLanded = hits(
      banded(landedIndex.select(col("img_id").as("oid"),
        col("dhash").as("odh")), "oid", "odh"), lit(true))
    val inBatch = hits(
      bb.select(col(idCol).as("oid"), col("__dh").as("odh"),
        col("band"), col("bk")),
      col("oid") < col(idCol))
    batch.join(vsLanded.unionByName(inBatch).distinct(),
      Seq(idCol), "left_anti")
  }

  /** REAL content-level image hashing: decode each FITS payload
    * (gzipped or raw single-HDU float32, the ZTF cutout format —
    * [[graft.multimodal.FitsOps.decodeFloatImage]]) and dHash the
    * decoded raster through the same kernel core the q86 expression
    * uses. NaN pixels (masked detector regions) are replaced by the
    * finite-pixel mean first — a neutral value that cannot flip a
    * gradient sign on its own. Appends `outCol` (LongType; null when
    * the payload is null or undecodable) — a partition-level map, no
    * shuffle, payload bytes never leave the stage.
    */
  def withFitsDHash(df: DataFrame, payloadCol: String,
      outCol: String = "dhash"): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(outCol, LongType))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(idx)) null
          else r.get(idx).asInstanceOf[Array[Byte]]
        val dh: Any = if (bytes == null) null else
          try {
            val (w, h, px) = graft.multimodal.FitsOps
              .decodeFloatImage(bytes)
            val d = new Array[Double](px.length)
            var sum = 0.0; var nFinite = 0
            var i = 0
            while (i < px.length) {
              if (java.lang.Float.isFinite(px(i))) {
                sum += px(i); nFinite += 1
              }
              i += 1
            }
            val fill = if (nFinite > 0) sum / nFinite else 0.0
            i = 0
            while (i < px.length) {
              d(i) = if (java.lang.Float.isFinite(px(i))) px(i).toDouble
                else fill
              i += 1
            }
            graft.expressions.ImageDHash.compute(d, w, h)
          } catch { case _: IllegalArgumentException => null }
        Row.fromSeq(r.toSeq :+ dh)
      }
    }(enc)
  }

  /** Deterministic 18×16 grayscale raster from a document's token
    * stream — the corpus-derived stand-in for decoded image rasters
    * (the container ships no codecs; [[graft.multimodal.FitsOps]] is
    * the real decode path for FITS stamps): pixel i = the first md5
    * byte of token (i mod n_tokens). Cross-engine exact — integer
    * pixel values and (for the 18×16 → 9×8 resize) weight-1 box
    * averaging mean the DuckDB mirror reproduces the hash bit-for-bit
    * from md5 hex digits alone.
    */
  def tokenRaster(text: Column): Column = {
    val toks = graft.expressions.WordShingles.shingles(text, 1)
    val hv = transform(toks,
      t => conv(substring(md5(t), 1, 2), 16, 10).cast("double"))
    // wrap-around indexing WITHOUT referencing hv inside a per-pixel
    // lambda: `transform(sequence(0,287), i -> element_at(hv, i%n+1))`
    // inlines the whole md5-per-token transform into the lambda body,
    // so Spark re-evaluates it 288× per row (measured 295 s at sf0.1
    // vs ~1 s for this repeat-and-slice form, which evaluates hv O(1)
    // times per row). Same values bit-for-bit.
    slice(flatten(array_repeat(hv,
      ceil(lit(18.0 * 16.0) / size(hv)).cast("int"))), 1, 18 * 16)
  }

  /** q86 — [[imageDHashPairs]] over token-derived rasters: perceptual
    * near-duplicate image pairs at the standard Hamming ≤ 10 band.
    */
  def qImageDhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = GateInputs.spread(
        GateInputs.documents(spark, dir))
      .select(col("doc_id"), tokenRaster(col("text")).as("px"),
        size(graft.expressions.WordShingles.shingles(col("text"), 1))
          .as("ntok"))
      .filter(col("ntok") > 0)
    imageDHashPairs(d, "doc_id", "px", 18, 16, maxHamming = 10)
      .select(col("img_a").as("doc_a"), col("img_b").as("doc_b"),
        col("hamming"))
  }

  // ---- queries over the documents table (text payload as bytes) ----

  /** Multimodal metadata query for the correctness gate: the binary
    * plumbing (octet_length, magic sniff, slicing) on a payload column
    * derived from `documents.text`.
    */
  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        hex(substring(col("payload"), 1, 8)).as("head_hex"),
        octet_length(substring(col("payload"), -16, 16)).cast("long")
          .as("tail_len"))
      .orderBy("doc_id")
}

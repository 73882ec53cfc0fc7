package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Multimodal-column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns with typed metadata, processed partition-
  * wise. The pipeline shape is:
  *
  *   binary payload + metadata struct
  *     → mapPartitions batch decode — REAL for images (PNG/GIF/JPEG/BMP
  *       via `javax.imageio`, which ships in the JDK: magic-byte sniff,
  *       full raster decode, per-band luminance features, true
  *       area-average resize); deterministic byte-window fake for
  *       audio/video, whose codecs this container does not ship
  *     → per-frame/feature rows for downstream dedup/similarity.
  *
  * Since the synthetic testdata has no binary table, the gate queries
  * manufacture payloads from `documents.text` (UTF-8 bytes, which fail
  * the image sniff and take the byte-window path) — the plumbing is
  * identical for real blobs, and MultimodalSpec drives the image path
  * with golden in-memory PNGs (reference round-trips real PNG/webp
  * blobs: `tests/test_aerovaldb.py:538-573`).
  */
object Multimodal {

  /** documents → (doc_id, source, payload: binary, meta struct).
    * At scale this is `spark.read.format("binaryFile")` or a parquet
    * table with a binary column. */
  def blobTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("lang").as("content_lang"),
        col("n_chars").as("content_chars")).as("meta"))

  /** Blob metadata extraction — byte length + magic sniff, all
    * codegen'd column functions, no UDF. */
  def m01BlobMeta(spark: SparkSession, dir: String): DataFrame =
    blobTable(spark, dir)
      .select(col("source"), length(col("payload")).cast("bigint").as("n_bytes"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_blobs"),
           sum("n_bytes").as("total_bytes"),
           max("n_bytes").as("max_bytes"))
      .orderBy("source")

  final case class Frame(doc_id: Long, frame_id: Int, offset: Int,
                         feature: Double, checksum: Long)

  final case class ImageMeta(format: String, width: Int, height: Int)

  /** Magic-byte sniff for the image formats `javax.imageio` decodes out
    * of the box (same sniff idea as the store's blob-extension sniff;
    * the reference's allowed image set is `const.py:1-3`). */
  def sniffImage(bytes: Array[Byte]): Option[String] = {
    def at(i: Int) = bytes(i) & 0xFF
    if (bytes.length < 8) None
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') Some("png")
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8') Some("gif")
    else if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF) Some("jpeg")
    else if (at(0) == 'B' && at(1) == 'M') Some("bmp")
    else None
  }

  /** Real image decode: full raster via ImageIO. None for payloads that
    * are not a decodable image.
    *
    * The stream is wrapped in a HEAP-backed cache explicitly:
    * `ImageIO.read(InputStream)` defaults to a FILE-backed cache
    * stream (`ImageIO.getUseCache`), i.e. one temp file created and
    * deleted PER DECODE — per-image disk I/O that serializes on the
    * filesystem and made the decode-bound gates track the box's I/O
    * weather instead of their own work (m04's r16 warm flap). The
    * payloads here are already in-memory byte arrays; nothing about
    * them belongs on disk. Same for [[encodePng]] on the write side. */
  def decodeImage(bytes: Array[Byte]): Option[(ImageMeta, java.awt.image.BufferedImage)] =
    sniffImage(bytes).flatMap { fmt =>
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      Option(javax.imageio.ImageIO.read(in))
        .map(img => (ImageMeta(fmt, img.getWidth, img.getHeight), img))
    }

  /** PNG-encode a raster to bytes through a heap-backed stream — see
    * [[decodeImage]] for why the default file-cache stream is banned
    * from the per-image hot path. */
  private[graft] def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    javax.imageio.ImageIO.write(img, "png", ios)
    ios.close() // flushes the cache into bos
    bos.toByteArray
  }

  /** Integer luminance (ITU-R 601 weights, scaled by 1000 to stay
    * exact) of a packed ARGB pixel. */
  private def luma1000(argb: Int): Long = {
    val r = (argb >> 16) & 0xFF; val g = (argb >> 8) & 0xFF; val b = argb & 0xFF
    299L * r + 587L * g + 114L * b
  }

  /** Deterministic fallback feature for non-image payloads (audio/video
    * codecs are not in this container — byte-window mean + rolling
    * checksum keeps the pipeline runnable end-to-end for them). */
  private def decodeWindow(bytes: Array[Byte], from: Int, until: Int): (Double, Long) = {
    var sum = 0L; var crc = 1L
    var i = from
    while (i < until) { sum += (bytes(i) & 0xFF); crc = crc * 31 + (bytes(i) & 0xFF); i += 1 }
    (sum.toDouble / (until - from), crc)
  }

  /** Partition-wise frame sampling over a typed blob dataset:
    *  - image payloads decode for real and emit one frame per
    *    `bandRows`-scanline horizontal band — feature is the band's
    *    mean luminance (0-255 scale), checksum a rolling hash over the
    *    band's ARGB pixels;
    *  - other payloads (text fixtures, audio, video) emit one frame per
    *    `frameBytes` window with the byte-window fallback.
    * The mapPartitions batching and output schema are shared by both
    * paths — swapping in an audio codec changes only the decode slot. */
  def frameSample(blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
                  frameBytes: Int = 64, bandRows: Int = 16): org.apache.spark.sql.Dataset[Frame] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { case (docId, bytes) =>
        decodeImage(bytes) match {
          case Some((_, img)) =>
            val (w, h) = (img.getWidth, img.getHeight)
            val nBands = (h + bandRows - 1) / bandRows
            (0 until nBands).iterator.map { f =>
              val from = f * bandRows
              val until = math.min(h, from + bandRows)
              var lumaSum = 0L; var crc = 1L
              var y = from
              while (y < until) {
                var x = 0
                while (x < w) {
                  val p = img.getRGB(x, y)
                  lumaSum += luma1000(p)
                  crc = crc * 31 + (p & 0xFFFFFF)
                  x += 1
                }
                y += 1
              }
              val mean = lumaSum.toDouble / (1000L * w * (until - from))
              // Det half-up, not rint: the cross-engine convention —
              // banker's rounding has no cheap SQL twin
              Frame(docId, f, from, Det.droundD(mean, 2), crc)
            }
          case None =>
            // ⌈len/frameBytes⌉ frames — ZERO for an empty payload,
            // matching the m02 oracle's (n+63)//64 arithmetic (r15
            // advice: the old one-frame minimum would have AIOOBE'd on
            // an empty payload and diverged from the oracle; the
            // planted corpus is non-empty, so dumps are unchanged)
            val n = (bytes.length + frameBytes - 1) / frameBytes
            (0 until n).iterator.map { f =>
              val from = f * frameBytes
              val until = math.min(bytes.length, from + frameBytes)
              val (feat, crc) = decodeWindow(bytes, from, until)
              Frame(docId, f, from, Det.droundD(feat, 2), crc)
            }
        }
      }
    }
  }

  /** [[frameSample]] over the gate blob table. */
  def m02FrameSample(spark: SparkSession, dir: String, frameBytes: Int = 64): DataFrame = {
    import spark.implicits._
    frameSample(blobTable(spark, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])], frameBytes).toDF()
  }

  /** Frame-level rollup: frames per doc + mean feature per source —
    * exercises the decode path end-to-end. ORACLE-CHECKED (r14 item
    * 4): the blob payloads are the docs' UTF-8 bytes, so every frame
    * feature is per-window byte math DuckDB replays with nested
    * lambdas over the text's code points (the corpus is ASCII — the
    * m07 technique). The mean aggregates the features as EXACT
    * centi-unit integers (each feature is a half-up 2-decimal value),
    * so the only float step is one division — deterministic across
    * engines, where avg-of-doubles would hash-mismatch on summation
    * order at rounding boundaries. */
  def m02FrameStats(spark: SparkSession, dir: String): DataFrame = {
    val frames = m02FrameSample(spark, dir)
    // no broadcast hint: docs is corpus-sized (one row per document), so
    // a forced broadcast would blow the driver at scale — AQE promotes
    // the join to broadcast at runtime only when the side is actually small
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    frames.join(docs, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_frames"),
           Det.dround(
             sum(round(col("feature") * 100).cast("long")).cast("double")
               / (count(lit(1)) * lit(100.0)), 2).as("avg_feature"))
      .orderBy("source")
  }

  final case class Thumb(doc_id: Long, orig_bytes: Int, thumb_bytes: Int,
                         checksum: Long)

  /** Real image resize: area-average downscale by `factor` (each output
    * pixel is the mean ARGB of its factor×factor source block — exact
    * integer arithmetic, deterministic across JVMs unlike Graphics2D
    * interpolation), re-encoded as PNG for the thumb byte size. */
  def resizeImage(img: java.awt.image.BufferedImage, factor: Int): (Array[Byte], Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val (tw, th) = (math.max(1, w / factor), math.max(1, h / factor))
    val out = new java.awt.image.BufferedImage(tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var crc = 1L
    var ty = 0
    while (ty < th) {
      var tx = 0
      while (tx < tw) {
        var (rs, gs, bs, n) = (0L, 0L, 0L, 0L)
        var y = ty * factor
        while (y < math.min(h, (ty + 1) * factor)) {
          var x = tx * factor
          while (x < math.min(w, (tx + 1) * factor)) {
            val p = img.getRGB(x, y)
            rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF; n += 1
            x += 1
          }
          y += 1
        }
        val p = (((rs / n).toInt & 0xFF) << 16) | (((gs / n).toInt & 0xFF) << 8) | ((bs / n).toInt & 0xFF)
        out.setRGB(tx, ty, p)
        crc = crc * 31 + p
        tx += 1
      }
      ty += 1
    }
    (encodePng(out), crc)
  }

  /** Partition-wise resize over a typed blob dataset: image payloads go
    * through the real [[resizeImage]] scaler (thumb_bytes = re-encoded
    * PNG size, checksum over the scaled raster — raster, not encoding,
    * so the value is JVM-encoder-independent); non-image payloads keep
    * the every-k-th-byte fallback. */
  def resizeBlobs(blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
                  factor: Int = 8): org.apache.spark.sql.Dataset[Thumb] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.map { case (docId, bytes) =>
        decodeImage(bytes) match {
          case Some((_, img)) =>
            val (png, crc) = resizeImage(img, factor)
            Thumb(docId, bytes.length, png.length, crc)
          case None =>
            val thumb = bytes.indices.collect { case i if i % factor == 0 => bytes(i) }.toArray
            var crc = 1L
            thumb.foreach(b => crc = crc * 31 + (b & 0xFF))
            Thumb(docId, bytes.length, thumb.length, crc)
        }
      }
    }
  }

  /** [[resizeBlobs]] over the gate blob table. */
  def m03Resize(spark: SparkSession, dir: String, factor: Int = 8): DataFrame = {
    import spark.implicits._
    resizeBlobs(blobTable(spark, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])], factor).toDF()
  }

  /** Resize rollup per source: exercises the stub scaler end-to-end. */
  def m03ResizeStats(spark: SparkSession, dir: String): DataFrame = {
    val thumbs = m03Resize(spark, dir)
    // corpus-sized dimension: no broadcast hint (see m02FrameStats)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    thumbs.join(docs, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_blobs"),
           sum("orig_bytes").as("total_orig"),
           sum("thumb_bytes").as("total_thumb"))
      .orderBy("source")
  }

  // ---- perceptual image hashing (aHash) → image-level dedup ----

  /** 64-bit average hash of a decoded image: area-average the
    * luminance onto an 8×8 grid, set bit i when cell i is brighter
    * than the global mean — the classic perceptual fingerprint that
    * survives resizing and mild brightness shifts. Pure integer/
    * double arithmetic over exact decoded pixels → deterministic
    * across runs and JVMs. */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](64); val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val idx = cy * 8 + math.min(x * 8 / w, 7)
        sums(idx) += luma1000(img.getRGB(x, y)); counts(idx) += 1
        x += 1
      }
      y += 1
    }
    val means = Array.tabulate(64)(i =>
      if (counts(i) == 0) 0.0 else sums(i).toDouble / counts(i))
    val global = means.sum / 64
    var bits = 0L; var i = 0
    while (i < 64) { if (means(i) > global) bits |= (1L << i); i += 1 }
    bits
  }

  /** (doc_id, ahash) for every decodable image payload — partition-wise
    * decode, one 8-byte fingerprint per image; non-images are dropped. */
  def imageHashes(blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // decode-dedup: aHash is a pure function of the payload BYTES, so
      // byte-identical blobs (re-uploads, the synthetic corpora's ~10
      // planted patterns) decode once per partition instead of once per
      // row — the guide's decide-with-small-rows move applied to the
      // decode itself. Bounded LRU: distinct payloads cost one wasted
      // map probe each, never unbounded heap.
      val memo = new java.util.LinkedHashMap[java.nio.ByteBuffer, Option[Long]](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[java.nio.ByteBuffer, Option[Long]]): Boolean =
          size() > 256
      }
      it.flatMap { case (docId, bytes) =>
        val k = java.nio.ByteBuffer.wrap(bytes)
        var h = memo.get(k)
        if (h == null) {
          h = decodeImage(bytes).map { case (_, img) => aHash64(img) }
          memo.put(k, h)
        }
        h.map(docId -> _)
      }
    }.toDF("doc_id", "ahash")
  }

  /** Near-dup image pairs with Hamming distance ≤ 3 over the aHash
    * fingerprints — the same 4×16-bit pigeonhole banding as the
    * SimHash text tier (d03), so the bucket join stays near-linear in
    * image count: image dedup is text dedup once the hash exists. */
  def imageDupPairs(hashes: DataFrame): DataFrame = {
    val chunks = hashes.select(col("doc_id"), col("ahash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("c"), shiftright(col("ahash"), c * 16).bitwiseAND(0xFFFF).as("v"))): _*)).as("ch"))
      .select(col("doc_id"), col("ahash"), col("ch.c").as("c"), col("ch.v").as("v"))
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
              bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).as("hamming"))
      .dropDuplicates("i", "j")
      .filter(col("hamming") <= 3)
  }

  /** Deterministic synthetic image corpus: one 16×16 black/white PNG
    * per document, the pattern an LCG-seeded random bitmap keyed by
    * doc_id % 10 — docs sharing a pattern produce byte-identical PNGs
    * with structurally-distinct aHashes across patterns (smooth
    * per-channel gradients are NOT distinct under a perceptual hash:
    * aHash keys on bright/dark geometry, so the planted patterns must
    * differ in geometry, not just channel values). */
  private[analytics] def syntheticImages(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    syntheticImagesKeyed(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long].map(d => (d, d % 10)))
  }

  /** The image generator parameterized by (doc_id, pattern key) — m12
    * derives a MUTATED corpus by changing keys, so a "re-crawled"
    * image genuinely changes content. */
  private[analytics] def syntheticImagesKeyed(
      ids: org.apache.spark.sql.Dataset[(Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      // the PNG is a pure function of the pattern KEY (docs sharing a
      // pattern produce byte-identical PNGs by design), so encode once
      // per distinct key per partition instead of once per row — the
      // fixture corpora carry ~10-21 distinct keys, and the raster
      // fill + PNG encode was the whole per-row cost
      val memo = new java.util.HashMap[Long, Array[Byte]]()
      def pngOf(key: Long): Array[Byte] = {
        var state = key * 2654435761L + 12345L
        def nextBit(): Boolean = {
          state = state * 6364136223846793005L + 1442695040888963407L
          ((state >>> 33) & 1L) == 1L
        }
        val img = new java.awt.image.BufferedImage(16, 16,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            img.setRGB(x, y, if (nextBit()) 0xFFFFFF else 0x000000)
            x += 1
          }
          y += 1
        }
        encodePng(img)
      }
      it.map { case (docId, key) =>
        (docId, memo.computeIfAbsent(key, pngOf(_)))
      }
    }
  }

  /** Gate: encode → decode → aHash → exact-hash dup groups over the
    * synthetic image corpus (10 planted pattern groups). Rows-only
    * (the PNG round trip has no SQL oracle). */
  def m04ImageDupGroups(spark: SparkSession, dir: String): DataFrame =
    hashGroups(imageHashes(syntheticImages(spark, dir)))

  private def hashGroups(hashes: DataFrame): DataFrame =
    hashes.groupBy("ahash")
      .agg(min("doc_id").as("group_rep"), count(lit(1)).as("n_images"))
      .select(col("group_rep"), col("n_images"))
      .orderBy("group_rep")

  /** The m12 corpus mutation — d14's CDC rules moved to the image
    * corpus: `doc_id % 10 == 7` deleted, `% 10 == 3` RE-CRAWLED with
    * genuinely different content (pattern key 13), and one new image
    * `-(doc_id+1)` per `% 10 == 0` doc (pattern key 20). */
  private def m12KeysB(ids: org.apache.spark.sql.Dataset[Long])
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import ids.sparkSession.implicits._
    ids.flatMap { d =>
      val kept = if (d % 10 == 7) Nil
        else Seq((d, if (d % 10 == 3) 13L else d % 10))
      val added = if (d % 10 == 0) Seq((-(d + 1), 20L)) else Nil
      kept ++ added
    }
  }

  /** m12 gate: INCREMENTAL image-fingerprint index maintenance under
    * CDC — the multimodal member of the maintenance family (p08
    * vectors, g07 graph, p10 postings): the aHash index over
    * yesterday's corpus is a STORED artifact; when the crawl diff
    * arrives, the expensive step — decode + perceptual hash — runs
    * over ONLY the diff's blobs (re-crawled + new images), deleted and
    * changed rows drop by id, and the maintained index must group
    * exactly like a from-scratch rebuild of the new corpus
    * (`m12_eq_fullrebuild` in Verify; MultimodalSpec pins the planted
    * group moves). Rows-only (PNG round trip). */
  def m12ImageIndexMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val base = ParquetRows.frame(spark, m12BaseDir(spark, dir))
    // decode ONLY the diff: re-crawled (% 10 == 3, new pattern) and
    // added (negative ids) images
    val diffKeys = m12KeysB(ids)
      .filter(kv => kv._2 == 13L || kv._1 < 0)
    val recomputed = imageHashes(syntheticImagesKeyed(diffKeys))
    val maintained = base
      .filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 3)
      .unionByName(recomputed)
    hashGroups(maintained)
  }

  /** Yesterday's fingerprint index: a stored per-(JVM, dir) artifact
    * (the knnEdges/postings pattern) — the full-corpus decode+hash
    * pass runs once, every later invocation (m12, st24) reads the
    * parquet back. */
  private def m12BaseDir(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("m12-base", dir) { p =>
      import spark.implicits._
      imageHashes(syntheticImagesKeyed(
          Tables.documents(spark, dir).select(col("doc_id")).as[Long]
            .map(d => (d, d % 10))))
        .write.mode("overwrite").parquet(p)
    }

  /** The rebuild twin: hash the whole mutated corpus from scratch.
    * Called by Verify for `m12_eq_fullrebuild`. */
  private[graft] def m12FullRebuildProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hashGroups(imageHashes(syntheticImagesKeyed(
      m12KeysB(Tables.documents(spark, dir).select(col("doc_id")).as[Long]))))
  }

  /** Pattern keys for the m13 chain's mutated content: a doc
    * re-crawled at epoch j draws key `100 + j` (genuinely new
    * geometry each epoch), the final epoch's added images draw 200 —
    * disjoint from the base `% 10` keys and from each other. */
  private def m13Key(e: Int): Long = 100L + e
  private val M13AddKey = 200L

  /** The image corpus after `e` epochs of the SHARED p13 rules
    * ([[Pipeline.p13DeleteClasses]]/[[Pipeline.p13ChangeClass]]/
    * final-epoch adds — ONE chain-algebra definition across the
    * postings, PQ, IVF, and image families) as (doc_id, pattern key)
    * pairs: deleted classes gone, each changed class re-keyed to its
    * epoch's [[m13Key]], negated class-0 adds at the final epoch. */
  private def m13KeysAt(ids: org.apache.spark.sql.Dataset[Long], e: Int)
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import ids.sparkSession.implicits._
    val gone = (1 to e).flatMap(Pipeline.p13DeleteClasses).toSet
    val changed = (1 to e).map(j => Pipeline.p13ChangeClass(j) -> m13Key(j)).toMap
    val addEpoch = e >= Pipeline.ChainEpochs
    ids.flatMap { d =>
      val cls = (d % 16).toInt
      val kept =
        if (gone.contains(cls)) Nil
        else Seq((d, changed.getOrElse(cls, d % 10)))
      val added = if (addEpoch && cls == 0) Seq((-(d + 1), M13AddKey)) else Nil
      kept ++ added
    }
  }

  /** m13 gate: MULTI-EPOCH maintenance of the image-fingerprint
    * APPEND LOG — the chain discipline (g08/p13/p14/p15) applied to
    * the one maintained family whose layout has no tombstone sidecar
    * at all: newest-generation-per-key rows where `rm` deletes
    * (m12/st24's artifact). Three successive epochs of the SHARED p13
    * rules; per epoch the decode+perceptual-hash pass sees ONLY the
    * diff (re-crawled + added images), deletes land as `rm` rows, and
    * compaction runs ONLY on the covered-fraction policy. The policy
    * signal is MAINTAINER ARITHMETIC, not a scan: every `rm` row
    * contributes itself plus its superseded target (2 dead rows),
    * every re-crawl supersedes exactly one earlier row (disjoint
    * classes — first-seen adds supersede none), over the footer-only
    * log row count; MaintainedStoreEstimateSpec pins it against the
    * resolve-and-count exact fraction. Per-epoch `eq_rebuild`: the
    * resolved groups equal a from-scratch decode+hash of that epoch's
    * corpus (memoized twin). `rebuildCheck = false` is
    * [[Pipeline.epochChain]]'s probe mode. Rows-only (PNG round
    * trip); Verify pins `m13_eq_every_epoch` / `m13_compaction_fired`. */
  def m13MultiEpochImages(spark: SparkSession, dir: String,
                          rebuildCheck: Boolean = true): DataFrame =
    graft.core.TempDirs.scoped("graft-m13") { tmp =>
      import spark.implicits._
      val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      val index = tmp.resolve("index").toString
      ParquetRows.frame(spark, m12BaseDir(spark, dir))
        .withColumn("gen", lit(0L)).withColumn("op", lit("put"))
        .write.mode("overwrite").parquet(index)
      val rows = Pipeline.epochChain("m13", dir, rebuildCheck)(new Pipeline.ChainSteps {
        private var deadSinceCompact = 0L
        // the policy DENOMINATOR is maintainer arithmetic too: seeded
        // from the just-written log's footers (driver-side, bounded),
        // advanced by the known per-epoch append sizes, re-based from
        // the rewrite after a compaction — the epoch loop never runs a
        // count job or a log-wide listing just to decide whether to
        // compact (the same discipline as the tombstone families'
        // _rowcount sidecar; this log's maintainer is in-process so a
        // field is its sidecar)
        private var totalRows = graft.core.SegmentedIndex.footerRowCountOf(
          java.nio.file.Paths.get(index))
        def applyDiff(e: Int): Long = {
          val cls = col("doc_id") % 16
          val delClasses = Pipeline.p13DeleteClasses(e).map(Int.box)
          // the epoch's whole diff in ONE bounded job, each row tagged
          // with its kind: the rm ids, and the key pairs to decode +
          // hash — this epoch's re-crawled class (fresh pattern) and,
          // final epoch, the added images (negative ids). Every count
          // below is driver arithmetic over it
          val diff = graft.core.Bounded.localize(
            m13KeysAt(ids, e).filter(kv =>
                kv._2 == m13Key(e) || (e >= Pipeline.ChainEpochs && kv._2 == M13AddKey))
              .toDF("doc_id", "key")
              .withColumn("kind", when(col("doc_id") < 0, "add").otherwise("reput"))
              .unionByName(ids.toDF("doc_id").filter(cls.isin(delClasses: _*))
                .select(col("doc_id"), lit(null).cast("long").as("key"), lit("rm").as("kind"))))
          val n = graft.core.Bounded.countsBy(diff, "kind").withDefaultValue(0L)
          val puts = imageHashes(syntheticImagesKeyed(
              diff.df.filter(col("kind") =!= "rm").select("doc_id", "key").as[(Long, Long)]))
            .withColumn("gen", lit(e.toLong)).withColumn("op", lit("put"))
          val rms = diff.df.filter(col("kind") === "rm")
            .select(col("doc_id"), lit(0L).as("ahash"),
              lit(e.toLong).as("gen"), lit("rm").as("op"))
          // one appended file: the diff is already on the driver, so a
          // task per local slice would only add files
          puts.unionByName(rms).coalesce(1).write.mode("append").parquet(index)
          diff.release()
          // rm rows are dead twice over (themselves + their target),
          // re-crawls supersede exactly one, adds none; the denominator
          // advances by exactly what this epoch appended
          deadSinceCompact += 2 * n("rm") + n("reput")
          totalRows += n("rm") + n("reput") + n("add")
          n("rm") + n("reput")
        }
        def covered(): Double =
          if (totalRows == 0L) 0.0 else deadSinceCompact.toDouble / totalRows
        // the append log's epoch boundary: keep each doc's newest `put`
        // row (gens retained — later epochs must still order above
        // them), drop rm rows and superseded puts
        def compact(e: Int): Unit = {
          graft.core.SegmentedIndex.compactWith(index) { stage =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id").orderBy(col("gen").desc)
            log()
              .withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1 && col("op") === "put")
              .drop("_rn")
              .write.parquet(stage)
          }
          deadSinceCompact = 0L
          // re-base from the rewrite the compaction just published — a
          // driver-side footer walk of exactly what was written
          totalRows = graft.core.SegmentedIndex.footerRowCountOf(
            java.nio.file.Paths.get(index))
        }
        // the log as ONE task while the tracked row count is within the
        // localize cap: the window, the grouping, the sort and the
        // digest above it then plan as a single stage, no shuffle
        private def log(): DataFrame = {
          val stored = ParquetRows.frame(spark, index)
          graft.core.Bounded.singleTask(stored, Some(totalRows)).getOrElse(stored)
        }
        override def live(e: Int): Option[DataFrame] = Some(hashGroups(
          graft.core.SegmentedIndex.resolveNewest(log(),
              keyCol = "doc_id", genCol = "gen", opCol = "op")
            .select("doc_id", "ahash")))
        override def rebuild(e: Int, scratch: java.nio.file.Path): DataFrame =
          hashGroups(imageHashes(syntheticImagesKeyed(m13KeysAt(ids, e))))
      })
      Pipeline.receiptFrame(spark, rows, "n_dirty", "n_groups")
    }

  /** st24 gate: STREAMED image-fingerprint index maintenance — m12's
    * loop consumed from a blob change FEED: each microbatch carries
    * change rows with the new image BYTES for re-crawled/added docs
    * (deletes are id-only), the batch's payloads decode + hash (the
    * expensive pass sees only the diff), and the results land in the
    * index as an APPEND LOG — (doc_id, ahash, gen, op) rows, newest
    * generation per doc wins, `rm` rows delete — the TableStore's
    * own newest-per-key semantics applied to an index artifact, so no
    * mid-stream compaction or tombstone sidecar is needed at all.
    * Per-doc change rows are independent and generations are ordered
    * per batch, so the resolved index is slicing-invariant; the final
    * groups must equal m12's batch maintenance AND the from-scratch
    * rebuild (Verify: `st24_eq_m12`). Rows-only (PNG round trip). */
  def st24StreamImageIndex(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-st24") { tmp =>
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val index = tmp.resolve("index").toString
    // generation 0: yesterday's index (the cached m12 base artifact)
    ParquetRows.frame(spark, m12BaseDir(spark, dir))
      .withColumn("gen", lit(0L)).withColumn("op", lit("put"))
      .write.mode("overwrite").parquet(index)
    // the change feed, with REAL bytes for the new content
    val feedDir = tmp.resolve("feed").toString
    val changed = syntheticImagesKeyed(
        m12KeysB(ids).filter(kv => kv._2 == 13L || kv._1 < 0))
      .toDF("doc_id", "payload")
      .withColumn("change_type",
        when(col("doc_id") < 0, "added").otherwise("changed"))
    val deleted = ids.filter(_ % 10 == 7).toDF("doc_id")
      .withColumn("payload", lit(null).cast("binary"))
      .withColumn("change_type", lit("deleted"))
    changed.unionByName(deleted).repartition(3).write.parquet(feedDir)
    val feedSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("payload", org.apache.spark.sql.types.BinaryType)
      .add("change_type", org.apache.spark.sql.types.StringType)
    graft.streaming.EventStream.driveBatches(spark, graft.streaming.EventStream
        .readStagedFeed(_, feedSchema, feedDir)) { (batch, batchId) =>
      val bs = batch.sparkSession
      import bs.implicits._
      // replay-stable generation; a re-delivered batch re-appends
      // IDENTICAL (doc_id, ahash, gen, op) rows, which resolveNewest's
      // newest-per-key pick collapses — the append log is the one
      // maintained layout that is replay-safe without segment dirs
      val g = batchId + 1
      // decode + hash ONLY this batch's new content
      val puts = imageHashes(
          batch.filter(col("change_type").isin("changed", "added"))
            .select(col("doc_id"), col("payload"))
            .as[(Long, Array[Byte])])
        .withColumn("gen", lit(g)).withColumn("op", lit("put"))
      val rms = batch.filter(col("change_type") === "deleted")
        .select(col("doc_id"), lit(0L).as("ahash"),
          lit(g).as("gen"), lit("rm").as("op"))
      puts.unionByName(rms).write.mode("append").parquet(index)
    }
    // newest generation per doc wins; rm rows delete (the shared
    // append-log resolution) — then group
    val live = graft.core.SegmentedIndex.resolveNewest(
        ParquetRows.frame(spark, index), keyCol = "doc_id", genCol = "gen", opCol = "op")
      .select("doc_id", "ahash")
    // |groups|-bounded report materialized eagerly; the scoped append
    // log is deleted when this returns
    hashGroups(live).localCheckpoint(true)
  }

  // ---- perceptual audio hashing (energy contour) → audio dedup ----

  /** 64-bit energy-contour hash of a PCM-style signed-byte waveform:
    * frame the samples into 64 equal windows, set bit i when window
    * i's mean energy (sum of squared samples) exceeds the global mean
    * energy. Gain-INVARIANT by construction — scaling every sample by
    * g scales every window energy by g², which cancels against the
    * global mean — the audio analogue of [[aHash64]]'s brightness
    * invariance. Pure integer/double arithmetic → deterministic. The
    * decode stand-in for real codecs (not in this container): with a
    * real decoder only this function's input changes. */
  def audioHash64(samples: Array[Byte]): Long = {
    val n = samples.length
    // under 64 samples there is no contour to frame: fall back to a
    // byte-content hash (FNV-1a) so distinct short blobs dedup
    // byte-exact instead of all collapsing into one 0L group —
    // gain-invariance genuinely needs ≥ 1 sample per window
    if (n < 64) {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < n) { h = (h ^ (samples(i) & 0xffL)) * 0x100000001b3L; i += 1 }
      return h
    }
    val sums = new Array[Long](64); val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      // Long arithmetic: i * 64 overflows Int for blobs ≥ ~33.5M
      // samples (≈ 12 min of 44.1 kHz PCM — in scope for real audio)
      val w = math.min((i.toLong * 64L / n).toInt, 63)
      val s = samples(i).toLong
      sums(w) += s * s; counts(w) += 1
      i += 1
    }
    val means = Array.tabulate(64)(w =>
      if (counts(w) == 0) 0.0 else sums(w).toDouble / counts(w))
    val global = means.sum / 64
    var bits = 0L; var w = 0
    while (w < 64) { if (means(w) > global) bits |= (1L << w); w += 1 }
    bits
  }

  /** (doc_id, audiohash) per payload — partition-wise, one 8-byte
    * fingerprint per blob, same shape as [[imageHashes]]. */
  def audioHashes(blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.map { case (docId, bytes) => (docId, audioHash64(bytes)) }
      .toDF("doc_id", "audiohash")
  }

  /** Deterministic synthetic audio corpus: an LCG random-walk waveform
    * per pattern (doc_id % 8), amplified by a per-doc gain (1–3×) —
    * same pattern at different gains must collapse to one fingerprint,
    * different patterns must not. Amplitudes stay within ±40·3 so the
    * signed-byte range never clips (clipping would break the gain
    * invariance being planted). */
  private[analytics] def syntheticAudio(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long].map { docId =>
      var state = (docId % 8) * 2654435761L + 99991L
      val gain = (docId % 3 + 1).toInt
      val out = new Array[Byte](1024)
      var level = 0
      var i = 0
      while (i < 1024) {
        state = state * 6364136223846793005L + 1442695040888963407L
        level = math.max(-13, math.min(13, level + ((state >>> 33) % 7).toInt - 3))
        out(i) = (level * gain).toByte
        i += 1
      }
      (docId, out)
    }
  }

  /** Gate: synthesize → fingerprint → exact-hash dup groups (8 planted
    * waveform patterns, gain variants collapsing into them). Rows-only
    * (the fingerprint math has no SQL oracle); MultimodalSpec pins the
    * gain invariance and pattern separation. */
  def m05AudioDupGroups(spark: SparkSession, dir: String): DataFrame =
    audioHashes(syntheticAudio(spark, dir))
      .groupBy("audiohash")
      .agg(min("doc_id").as("group_rep"), count(lit(1)).as("n_blobs"))
      .select(col("group_rep"), col("n_blobs"))
      .orderBy("group_rep")

  // ---- video: temporal frame sampling → keyframe fingerprints → dedup ----

  /** Fixed frame size of the video decode stand-in: a "video" blob is
    * a sequence of raw 16×16 grayscale frames (256 bytes each). A real
    * codec only changes how frames are EXTRACTED from the blob — the
    * sampling, hashing, and join plumbing below is format-agnostic. */
  val VideoFrameBytes = 256

  /** Partition-wise temporal frame sampling + per-frame content
    * fingerprint: every `sampleEvery`-th frame is hashed (FNV-1a over
    * the frame's pixels) into an 8-byte keyframe fingerprint — the
    * shape real video dedup pipelines use (sampled keyframes, not
    * every frame, so a 2-hour video contributes hundreds of rows, not
    * hundreds of thousands). Output: (doc_id, frame_idx, fhash). */
  def videoFrameHashes(videos: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
                       sampleEvery: Int = 1): DataFrame = {
    import videos.sparkSession.implicits._
    videos.mapPartitions { it =>
      it.flatMap { case (docId, bytes) =>
        val nFrames = bytes.length / VideoFrameBytes
        (0 until nFrames by sampleEvery).iterator.map { f =>
          var h = 0xcbf29ce484222325L
          var i = f * VideoFrameBytes
          val until = i + VideoFrameBytes
          while (i < until) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
          (docId, f, h)
        }
      }
    }.toDF("doc_id", "frame_idx", "fhash")
  }

  /** Near-dup video pairs by shared-keyframe containment: videos i<j
    * sharing ≥ `minContainment` of the smaller video's distinct
    * keyframes. The join is an equi join on the 8-byte fingerprint —
    * near-linear in corpus size like the d03/m04 band joins — and
    * `maxDf` drops fingerprints appearing in more than that many
    * videos (black frames, station idents: the video analogue of d01's
    * df-cap, without which one boilerplate frame would quadratically
    * pair everything that contains it). */
  def videoDupPairs(frameHashes: DataFrame, minContainment: Double = 0.5,
                    maxDf: Int = 100): DataFrame = {
    val distinctFh = frameHashes.select(col("doc_id"), col("fhash")).distinct()
    val rare = distinctFh.groupBy("fhash")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
    val fh = distinctFh.join(rare.select("fhash"), "fhash")
    val perVideo = distinctFh.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
    val shared = fh.as("a").join(fh.as("b"),
        col("a.fhash") === col("b.fhash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("shared_frames"))
    shared
      .join(perVideo.withColumnRenamed("doc_id", "i")
                    .withColumnRenamed("n_frames", "n_i"), "i")
      .join(perVideo.withColumnRenamed("doc_id", "j")
                    .withColumnRenamed("n_frames", "n_j"), "j")
      .withColumn("containment",
        Det.dround(col("shared_frames").cast("double") / least(col("n_i"), col("n_j")), 4))
      .filter(col("containment") >= minContainment)
      .select(col("i"), col("j"), col("shared_frames"), col("containment"))
  }

  /** Deterministic synthetic video corpus: 12 frames per video, each
    * frame an LCG bitmap keyed by its SHOT id; shots are unique to
    * each GROUP of 3 consecutive doc_ids (so the planted pair
    * structure stays linear in corpus size — a corpus-wide shared
    * pattern would quadratically pair every like video):
    *   doc_id % 3 == 0: the 12-shot base cut;
    *   doc_id % 3 == 1: the first 2 shots trimmed (a re-cut intro:
    *     containment vs the base must be 1.0);
    *   doc_id % 3 == 2: the last 4 shots replaced by doc-unique ones
    *     (a re-edit: 8 of 12 shots shared with the base). */
  private[analytics] def syntheticVideos(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long].map { docId =>
      val group = docId / 3
      val variant = (docId % 3).toInt
      val shots: Seq[Long] = variant match {
        case 1 => (2 until 12).map(f => group * 32L + f)
        case 2 => (0 until 8).map(f => group * 32L + f) ++
                  (8 until 12).map(f => -(docId * 16L + f) - 1L)
        case _ => (0 until 12).map(f => group * 32L + f)
      }
      val out = new Array[Byte](shots.length * VideoFrameBytes)
      shots.zipWithIndex.foreach { case (shot, f) =>
        var state = shot * 2654435761L + 7919L
        var i = 0
        while (i < VideoFrameBytes) {
          state = state * 6364136223846793005L + 1442695040888963407L
          out(f * VideoFrameBytes + i) = ((state >>> 33) & 0xFF).toByte
          i += 1
        }
      }
      (docId, out)
    }
  }

  /** Gate: synthesize → sample keyframes → fingerprint → containment
    * pairs, rolled up per containment level so the output is bounded
    * by the variant structure, not the pair count. Rows-only (the
    * frame plumbing has no SQL oracle); MultimodalSpec pins the
    * planted trim/re-edit relationships. */
  def m06VideoDupStats(spark: SparkSession, dir: String): DataFrame =
    videoDupPairs(videoFrameHashes(syntheticVideos(spark, dir)))
      .groupBy("containment")
      .agg(count(lit(1)).as("n_pairs"),
           sum("shared_frames").as("total_shared"))
      .orderBy("containment")

  /** Deterministic multi-shot synthetic videos for m09: each video is
    * `2 + doc_id % 4` shots, shot s running `3 + s % 3` frames; frames
    * WITHIN a shot are byte-identical (keyed by (doc, shot)), frames
    * across a boundary differ — the structure a real decoder's frame
    * stream has, reduced to what the byte-window stand-in can carry. */
  private[analytics] def syntheticShotVideos(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long].map { docId =>
      val nShots = 2 + (docId % 4).toInt
      val frames = (0 until nShots).flatMap(s => Seq.fill(3 + s % 3)(s))
      val out = new Array[Byte](frames.length * VideoFrameBytes)
      frames.zipWithIndex.foreach { case (shot, f) =>
        var state = docId * 131L + shot * 2654435761L + 17L
        var i = 0
        while (i < VideoFrameBytes) {
          state = state * 6364136223846793005L + 1442695040888963407L
          out(f * VideoFrameBytes + i) = ((state >>> 33) & 0xFF).toByte
          i += 1
        }
      }
      (docId, out)
    }
  }

  /** Shot segmentation over sampled keyframe fingerprints: a boundary
    * is a fingerprint CHANGE between consecutive frames (the
    * hash-equality stand-in for a real detector's frame-similarity
    * threshold — the plumbing is identical: per-video lag + running
    * count). The window partitions by video and frames-per-video is
    * sampling-bounded, so no partition ever grows with the corpus. */
  def videoShots(frameHashes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frameHashes
      .withColumn("prev", lag(col("fhash"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNull || col("prev") =!= col("fhash"), 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), sum("cut").as("n_shots"))
  }

  /** m09 gate: video shot segmentation — the sampling structure video
    * training data is built on (pick k frames per SHOT, not per
    * second: dedup within shots, diversity across them). Rows-only;
    * MultimodalSpec pins the planted shot structure exactly. */
  def m09VideoShots(spark: SparkSession, dir: String): DataFrame =
    videoShots(videoFrameHashes(syntheticShotVideos(spark, dir)))
      .withColumn("avg_shot_len",
        Det.dround(col("n_frames").cast("double") / col("n_shots"), 4))
      .filter(col("doc_id") < 50)
      .orderBy("doc_id")

  /** CLIP-style image–caption alignment filtering — the multimodal
    * curation step that decides whether a caption actually describes
    * its image: score = cosine(vision embedding, caption embedding),
    * drop pairs under a threshold. The two towers are stubs with REAL
    * plumbing (the m02 contract): the "vision" embedding is the doc's
    * fixture vector, the "caption" embedding the mean of the t08-
    * chunked rotation embeddings of its text (Rag's embedder) — both
    * content-derived, both pure column expressions, and crucially both
    * SQL-expressible, so unlike most multimodal gates this one is
    * ORACLE-CHECKED end to end (nested higher-order functions on both
    * engines). Swap the stubs for model towers and nothing else
    * changes.
    *
    * Scale shape: one scan of the pair table, zero joins beyond the
    * doc↔embedding equi join on the shared key, zero shuffles before
    * the final sort — per-row work is O(chunks·d) inside whole-stage
    * codegen. */
  def m07ClipAlign(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val AlignThreshold = 0.5
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (greatest(floor((size(split(trim(col("text")), "\\s+")) - 1) / 24), lit(0)) + 1)
          .cast("int").as("m"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), as_double_array(col("embedding")).as("v"))
      .withColumn("norm", array_norm(col("v")))
    docs.join(emb, "doc_id")
      // caption tower: mean of the first m rotations of v (0-based [])
      .withColumn("cap", expr(
        """transform(sequence(1, size(v)),
          |  k -> aggregate(sequence(0, m - 1), cast(0.0 as double),
          |         (acc, s) -> acc + v[(k - 1 + s % size(v)) % size(v)]) / m)""".stripMargin))
      .select(col("doc_id"), col("m").cast("bigint").as("n_chunks"),
        Det.dround(array_dot(col("v"), col("cap")) / (col("norm") * array_norm(col("cap"))), 4)
          .as("align_score"))
      .withColumn("keep",
        when(col("align_score") >= AlignThreshold, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** m10 gate: CROSS-MODAL retrieval — text queries against the image
    * index (the serving half of m07's alignment filter: the same two
    * towers, pointed at each other). Query side = the caption tower
    * (mean of the doc's first m chunk rotations — m07's expression)
    * over every 50th document; index side = the vision tower (the raw
    * fixture vector). Top-5 images per text query by cosine.
    *
    * Scale shape: the query set is workload-bounded and BROADCAST
    * against one scan of the vision index (s01's shape — no shuffle of
    * the corpus, ranking via the bounded top-k aggregate); at 100 TB
    * the index side swaps for the cell-partitioned stored layout
    * exactly like every other ANN gate. Both towers are pure column
    * expressions, so the gate is fully ORACLE-CHECKED — swap the stubs
    * for real model towers and only the two tower expressions move. */
  def m10CrossModalRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), as_double_array(col("embedding")).as("v"))
      .withColumn("norm", array_norm(col("v")))
    val capQueries = Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"),
        (greatest(floor((size(split(trim(col("text")), "\\s+")) - 1) / 24), lit(0)) + 1)
          .cast("int").as("m"))
      .join(emb, "doc_id")
      .withColumn("qv", expr(
        """transform(sequence(1, size(v)),
          |  k -> aggregate(sequence(0, m - 1), cast(0.0 as double),
          |         (acc, s) -> acc + v[(k - 1 + s % size(v)) % size(v)]) / m)""".stripMargin))
      .select(col("doc_id").as("query_id"), col("qv"),
        array_norm(col("qv")).as("qnorm"))
    val scored = emb.join(broadcast(capQueries), col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        Det.dround(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4)
          .as("cos_sim"))
    Similarity.rankTopK(scored, 5).orderBy("query_id", "rnk")
  }

  /** Patch-token budget one image attachment consumes in a multimodal
    * training sequence (a ViT-style tile of a small image). */
  val ImgTokens = 16L
  private val MmSeqLen = 256L

  /** m08 gate: interleaved multimodal sequence packing — t30's offset
    * arithmetic with each document's IMAGE attachments charged to the
    * same fixed-length budget as its text (multimodal LLM training
    * packs patch tokens and text tokens into one stream; the image
    * budget, not the text, is what blows up context accounting).
    * Attachment rule is deterministic (every 4th doc carries one
    * image), so the whole plan stays window arithmetic — no explode,
    * no join, and the oracle is exact SQL. Per lang: sequences needed,
    * text vs image token split, multimodal doc count, spanning docs.
    * SCALE TIER: [[m11ShardedInterleavedPacking]] — the same packing
    * over (lang, shard) windows, for when a single language's window
    * partition would serialize on one task at 100 TB. */
  def m08InterleavedPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_text"),
        when(col("doc_id") % 4 === 0, lit(ImgTokens)).otherwise(lit(0L)).as("n_img"))
      .withColumn("n_tok", col("n_text") + col("n_img"))
      .withColumn("start", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("first_seq", floor(col("start") / MmSeqLen).cast("long"))
      .withColumn("last_seq",
        floor((col("start") + col("n_tok") - 1L) / MmSeqLen).cast("long"))
    d.groupBy("lang")
      .agg((max("last_seq") + 1L).as("n_seqs"),
           sum("n_text").as("n_text_tokens"),
           sum("n_img").as("n_image_tokens"),
           sum(when(col("n_img") > 0, 1L).otherwise(0L)).as("n_mm_docs"),
           sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
             .as("n_spanning_docs"))
      .orderBy("lang")
  }

  /** Writer shards per language for [[m11ShardedInterleavedPacking]]
    * (t39's fixture-scale stand-in for hundreds of production writer
    * shards). Five, not four: coprime with the every-4th-doc image
    * rule, so image attachments spread across every shard instead of
    * all landing in shard 0. */
  private val MmPackShards = 5L

  /** m11 gate: SHARD-AWARE interleaved multimodal packing — m08's
    * image+text budget with the packing window keyed (lang, shard)
    * instead of lang alone, t39's scale fix applied to the multimodal
    * stream: a single-language 100 TB corpus makes m08's per-language
    * window partition corpus-sized, while the deterministic shard key
    * (`doc_id % MmPackShards`, exact in SQL) bounds every partition
    * at corpus/|shards| and preserves the packing contract per writer
    * shard. Per (lang, shard): sequences, text/image token split,
    * multimodal docs, spanning docs. Token totals per lang equal
    * m08's — conservation pinned in MultimodalSpec. */
  def m11ShardedInterleavedPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        (col("doc_id") % MmPackShards).as("shard"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_text"),
        when(col("doc_id") % 4 === 0, lit(ImgTokens)).otherwise(lit(0L)).as("n_img"))
      .withColumn("n_tok", col("n_text") + col("n_img"))
      .withColumn("start", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("first_seq", floor(col("start") / MmSeqLen).cast("long"))
      .withColumn("last_seq",
        floor((col("start") + col("n_tok") - 1L) / MmSeqLen).cast("long"))
    d.groupBy("lang", "shard")
      .agg((max("last_seq") + 1L).as("n_seqs"),
           sum("n_text").as("n_text_tokens"),
           sum("n_img").as("n_image_tokens"),
           sum(when(col("n_img") > 0, 1L).otherwise(0L)).as("n_mm_docs"),
           sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
             .as("n_spanning_docs"))
      .orderBy("lang", "shard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st24_stream_image_index" -> st24StreamImageIndex _,
    "m12_image_index_maintenance" -> m12ImageIndexMaintenance _,
    "m13_multi_epoch_images" -> ((s, d) => m13MultiEpochImages(s, d)),
    "m11_sharded_mm_packing" -> m11ShardedInterleavedPacking _,
    "m01_blob_meta"    -> m01BlobMeta _,
    "m02_frame_stats"  -> m02FrameStats _,
    "m03_resize_stats" -> m03ResizeStats _,
    "m04_image_dups"   -> m04ImageDupGroups _,
    "m05_audio_dups"   -> m05AudioDupGroups _,
    "m06_video_dups"   -> m06VideoDupStats _,
    "m07_clip_align"   -> m07ClipAlign _,
    "m10_crossmodal_retrieval" -> m10CrossModalRetrieval _,
    "m08_interleaved_packing" -> m08InterleavedPacking _,
    "m09_video_shots"  -> m09VideoShots _,
  )

  /** m01 is byte-exact SQL (UTF-8 length). m02/m03/m09 (r14 item 4):
    * the gate corpus's blob payloads are the docs' UTF-8 bytes (pure
    * ASCII — `length == octet_length` across every SF) and the shot
    * fixture is doc_id arithmetic, so the frame/resize/shot stats are
    * content-derived column math DuckDB replays with nested lambdas —
    * the m07 technique; a drifted window bound, a lost frame, or a
    * broken cut count fails the hash. The image/audio decode gates
    * (m04/m05/m06/m12/m13) stay rows-only: a PNG round trip has no
    * SQL twin. */
  val oracleSql: Map[String, String] = Map(
    // m02: one frame per 64-byte window; feature = half-up 2-decimal
    // per-window byte mean; the rollup averages exact centi-units
    "m02_frame_stats" ->
      """WITH d AS (SELECT doc_id, source, text, length(text) AS n FROM documents),
          f AS (SELECT doc_id, source, text, n,
                 unnest(range(0, CAST((n + 63) // 64 AS BIGINT))) AS fr
                FROM d),
          w AS (SELECT source,
                 CAST(fr * 64 AS BIGINT) AS fro,
                 CAST(least(n, fr * 64 + 64) AS BIGINT) AS unt,
                 list_aggregate(list_transform(
                   range(CAST(fr * 64 + 1 AS BIGINT),
                         CAST(least(n, fr * 64 + 64) + 1 AS BIGINT)),
                   i -> unicode(text[i])), 'sum') AS s
                FROM f),
          feat AS (SELECT source,
                 CAST(floor(CAST(s AS DOUBLE) / (unt - fro) * 100.0 + 0.5) AS BIGINT) AS feat_c
                FROM w)
         SELECT source, count(*) AS n_frames,
          floor(CAST(sum(feat_c) AS DOUBLE) / (count(*) * 100.0) * 100.0 + 0.5) / 100.0 AS avg_feature
         FROM feat GROUP BY source ORDER BY source""",
    // m04/m05/m06: the planted duplicate structures are pure doc_id
    // arithmetic (one PNG pattern per doc_id%10, one waveform per
    // doc_id%8 across gains, base/trim/re-edit triads per
    // doc_id/3), so the decode→perceptual-hash→group pipelines are
    // ORACLE-checked against an independent derivation of the
    // planted groups — a decode drift, a hash that stops collapsing
    // gain/scale variants, or a containment slip fails the hash
    "m04_image_dups" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS group_rep,
          count(*) AS n_images
         FROM documents GROUP BY doc_id % 10 ORDER BY group_rep""",
    // m12/st24: the CDC-mutated corpus's groups are the same
    // arithmetic under the d14 rules — %10==7 deleted, %10==3
    // re-crawled to its own new pattern, one −(id+1) add per %10==0
    // doc — so BOTH the batch-maintained index and the streamed
    // change-feed consumer are oracle-checked against the planted
    // post-diff groups (on top of the maintained ≡ rebuilt ≡ streamed
    // equality invariants)
    "m12_image_index_maintenance" ->
      """WITH m AS (SELECT doc_id,
                 CASE WHEN doc_id % 10 = 3 THEN 13 ELSE doc_id % 10 END AS k
                FROM documents WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT -(doc_id + 1), 20 FROM documents WHERE doc_id % 10 = 0)
         SELECT CAST(min(doc_id) AS BIGINT) AS group_rep,
          count(*) AS n_images
         FROM m GROUP BY k ORDER BY group_rep""",
    "st24_stream_image_index" ->
      """WITH m AS (SELECT doc_id,
                 CASE WHEN doc_id % 10 = 3 THEN 13 ELSE doc_id % 10 END AS k
                FROM documents WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT -(doc_id + 1), 20 FROM documents WHERE doc_id % 10 = 0)
         SELECT CAST(min(doc_id) AS BIGINT) AS group_rep,
          count(*) AS n_images
         FROM m GROUP BY k ORDER BY group_rep""",
    "m05_audio_dups" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS group_rep,
          count(*) AS n_blobs
         FROM documents GROUP BY doc_id % 8 ORDER BY group_rep""",
    "m06_video_dups" ->
      """WITH v AS (SELECT doc_id // 3 AS g,
                 max(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS v0,
                 max(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS v1,
                 max(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END) AS v2
                FROM documents GROUP BY 1),
          p AS (SELECT CAST(1.0 AS DOUBLE) AS c, 10 AS s FROM v WHERE v0 = 1 AND v1 = 1
                UNION ALL SELECT CAST(0.6667 AS DOUBLE), 8 FROM v WHERE v0 = 1 AND v2 = 1
                UNION ALL SELECT CAST(0.6 AS DOUBLE), 6 FROM v WHERE v1 = 1 AND v2 = 1)
         SELECT c AS containment, count(*) AS n_pairs,
          CAST(sum(s) AS BIGINT) AS total_shared
         FROM p GROUP BY c ORDER BY containment""",
    // m03: fallback thumb = every-8th byte → exact integer math
    "m03_resize_stats" ->
      """SELECT source, count(*) AS n_blobs,
          CAST(sum(length(text)) AS BIGINT) AS total_orig,
          CAST(sum((length(text) - 1) // 8 + 1) AS BIGINT) AS total_thumb
         FROM documents GROUP BY source ORDER BY source""",
    // m09: planted shot structure — video doc_id has 2 + id%4 shots,
    // shot s runs 3 + s%3 frames, every boundary cuts (frames within
    // a shot are byte-identical, across shots distinct)
    "m09_video_shots" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS ns
                    FROM documents WHERE doc_id < 50),
          s AS (SELECT doc_id,
                 CAST(list_aggregate(list_transform(range(0, ns), x -> 3 + x % 3), 'sum') AS BIGINT) AS n_frames,
                 CAST(ns AS BIGINT) AS n_shots
                FROM d)
         SELECT doc_id, n_frames, n_shots,
          floor(n_frames / CAST(n_shots AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS avg_shot_len
         FROM s ORDER BY doc_id""",
    "m11_sharded_mm_packing" ->
      """WITH d AS (SELECT doc_id, lang, doc_id % 5 AS shard,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_text,
                     CAST(CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 0 END AS BIGINT) AS n_img
                    FROM documents),
          t AS (SELECT *, n_text + n_img AS n_tok FROM d),
          c AS (SELECT *, COALESCE(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
                FROM t),
          s AS (SELECT lang, shard, n_text, n_img,
                 CAST(start // 256 AS BIGINT) first_seq,
                 CAST((start + n_tok - 1) // 256 AS BIGINT) last_seq
                FROM c)
         SELECT lang, CAST(shard AS BIGINT) AS shard,
          CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
          CAST(sum(n_text) AS BIGINT) AS n_text_tokens,
          CAST(sum(n_img) AS BIGINT) AS n_image_tokens,
          CAST(sum(CASE WHEN n_img > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mm_docs,
          CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs
         FROM s GROUP BY lang, shard ORDER BY lang, shard""",
    "m08_interleaved_packing" ->
      """WITH d AS (SELECT doc_id, lang,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_text,
                     CAST(CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 0 END AS BIGINT) AS n_img
                    FROM documents),
          t AS (SELECT *, n_text + n_img AS n_tok FROM d),
          c AS (SELECT *, COALESCE(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
                FROM t),
          s AS (SELECT lang, n_text, n_img,
                 CAST(start // 256 AS BIGINT) first_seq,
                 CAST((start + n_tok - 1) // 256 AS BIGINT) last_seq
                FROM c)
         SELECT lang, CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
          CAST(sum(n_text) AS BIGINT) AS n_text_tokens,
          CAST(sum(n_img) AS BIGINT) AS n_image_tokens,
          CAST(sum(CASE WHEN n_img > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mm_docs,
          CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs
         FROM s GROUP BY lang ORDER BY lang""",
    "m01_blob_meta" ->
      """SELECT source, count(*) AS n_blobs,
         CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
         CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
         FROM documents GROUP BY source ORDER BY source""",
    // m07: both towers are content-derived column math, so the whole
    // alignment pipeline is reproducible in SQL (nested lambdas)
    "m07_clip_align" ->
      """WITH d AS (SELECT doc_id,
             greatest((len(string_split_regex(trim(text), '\s+')) - 1) // 24, 0) + 1 AS m
            FROM documents),
          e AS (SELECT vec_id doc_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
             sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')) nrm
            FROM embeddings),
          p AS (SELECT d.doc_id, d.m, e.v, e.nrm,
             list_transform(range(1, len(v)+1),
               k -> list_aggregate(list_transform(range(0, m),
                      s -> v[((k - 1 + (s % len(v))) % len(v)) + 1]), 'sum') / m) cap
            FROM d JOIN e ON d.doc_id = e.doc_id),
          s AS (SELECT doc_id, CAST(m AS BIGINT) n_chunks,
             floor((list_aggregate(list_transform(range(1, len(v)+1), k -> v[k] * cap[k]), 'sum')
               / (nrm * sqrt(list_aggregate(list_transform(cap, x -> x*x), 'sum')))) * 10000.0 + 0.5) / 10000.0 align_score
            FROM p)
         SELECT doc_id, n_chunks, align_score,
          CASE WHEN align_score >= 0.5 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         FROM s ORDER BY doc_id""",
    "m10_crossmodal_retrieval" ->
      """WITH d AS (SELECT doc_id,
             greatest((len(string_split_regex(trim(text), '\s+')) - 1) // 24, 0) + 1 AS m
            FROM documents WHERE doc_id % 50 = 0),
          e AS (SELECT vec_id doc_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
             sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')) nrm
            FROM embeddings),
          q AS (SELECT d.doc_id query_id,
             list_transform(range(1, len(v)+1),
               k -> list_aggregate(list_transform(range(0, m),
                      s -> v[((k - 1 + (s % len(v))) % len(v)) + 1]), 'sum') / m) qv
            FROM d JOIN e ON d.doc_id = e.doc_id),
          qq AS (SELECT query_id, qv,
             sqrt(list_aggregate(list_transform(qv, x -> x*x), 'sum')) qnrm
            FROM q),
          sc AS (SELECT qq.query_id, e.doc_id neighbor_id,
             floor((list_aggregate(list_transform(range(1, len(qv)+1), k -> qv[k] * e.v[k]), 'sum')
               / (qnrm * e.nrm)) * 10000.0 + 0.5) / 10000.0 cos_sim
            FROM qq JOIN e ON e.doc_id <> qq.query_id),
          r AS (SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) rnk
            FROM sc)
         SELECT query_id, rnk, neighbor_id, cos_sim
         FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""",
  )
}

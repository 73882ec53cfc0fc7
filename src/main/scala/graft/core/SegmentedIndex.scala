package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The segmented-index lifecycle shared by every stored, incrementally
  * maintained index in this library — inverted postings (p10/st23),
  * the IVF vector corpus (p08/s11/st13), and the image-fingerprint
  * append log (m12/st24):
  *
  *  - DELETE is an O(|diff|) tombstone append into a `_tombstones`
  *    sidecar — no data file is touched. Every tombstone is
  *    GENERATION-SCOPED (the Lucene per-segment delete): it suppresses
  *    a key's rows at or below its `upto_gen`, so a re-append at a
  *    higher generation is live immediately and a streaming maintainer
  *    never needs a mid-stream compaction. `upto_gen = Long.MaxValue`
  *    is the epoch-wide delete: every generation, until compaction.
  *  - LIVE is the stored rows minus tombstone-covered rows: a
  *    broadcast anti-join bounded by the diff, gone after compaction.
  *  - COMPACT rewrites the live rows into a sibling staging dir,
  *    carries every other underscore sidecar verbatim, clears the
  *    tombstones (the epoch boundary that makes same-key re-adds
  *    safe), and publishes with [[DirSwap]]'s crash-safe two-rename.
  *
  * Index-specific policy stays with the owner: the stored schema, the
  * rewrite's partitioning (term-hashed postings vs cell-partitioned
  * IVF dirs), and probe semantics. Everything the three owners had
  * triplicated — tombstone format, live anti-join, sidecar carry,
  * swap discipline — lives here once. Single-maintainer, like every
  * DirSwap owner: delete/append/compact are sequenced by one loop,
  * never run concurrently with each other. */
object SegmentedIndex {

  // ---- O(1) row-count sidecar (the policy denominator) ----
  //
  // `_rowcount/total`: one tiny file holding the layout's stored row
  // count, maintained by the same single maintainer that sequences
  // append/tombstone/compact — m13's in-process maintainer arithmetic,
  // persisted (the r15 verdict item 5). With it, the compaction
  // policy's covered-fraction measurement reads NO layout metadata at
  // all: numerator from the diff-bounded tombstone sidecar,
  // denominator from this file — where the footer-only raw.count()
  // it replaces still pays a full file LISTING, a metadata storm at
  // millions of files. Opt-in at build or seed: the compaction policy
  // REQUIRES it ([[coveredFractionEstimate]]) and fails loudly on a layout
  // written without it; MaintainedStoreEstimateSpec pins the sidecar
  // equal to the footer count through every lifecycle op.

  private def rowCountPath(out: String) = Paths.get(out, "_rowcount", "total")

  /** The layout's maintained row count, or None when the layout does
    * not track one. */
  def readRowCount(out: String): Option[Long] = {
    val p = rowCountPath(out)
    if (!Files.isRegularFile(p)) None
    else Some(Files.readString(p).trim.toLong)
  }

  /** (Re)write the maintained row count — crash-safe tmp+move; the
    * single-maintainer contract serializes writers. */
  def writeRowCount(out: String, n: Long): Unit = {
    val p = rowCountPath(out)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling("total.tmp")
    Files.writeString(tmp, n.toString)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Adjust the maintained count by `delta` — a no-op for layouts that
    * do not track one (never invents a count: a partial total would
    * mis-steer the policy). */
  def bumpRowCount(out: String, delta: Long): Unit =
    readRowCount(out).foreach(n => writeRowCount(out, n + delta))

  /** The torn-/partial-parquet signatures a crashed writer can leave
    * behind: a truncated tail (EOF while reading the footer length),
    * a missing magic number, or footer metadata that fails to decode.
    * parquet-mr surfaces the magic/length cases as RuntimeExceptions
    * whose message names the file "not a Parquet file". */
  private def tornParquet(e: Throwable): Boolean = e match {
    case _: java.io.EOFException => true
    case _: org.apache.parquet.io.ParquetDecodingException => true
    case re: RuntimeException =>
      Option(re.getMessage).exists(_.contains("is not a Parquet file"))
    case _ => false
  }

  /** DRIVER-SIDE parquet-footer row count of a directory tree's DATA
    * files (underscore/dot-prefixed sidecars and markers skipped), no
    * Spark job ([[ParquetRows.rowCount]]) — used to (re)base a layout's
    * maintained count from a bounded tree: a fresh segment, a
    * just-compacted rewrite, a copied seed. */
  def footerRowCountOf(root: java.nio.file.Path): Long =
    ParquetRows.rowCount(ParquetRows.dataFiles(root))

  /** Tombstone `keys` under `keyCol` (explicit — [[live]] later joins
    * on the same name, and a positional guess would silently tombstone
    * the wrong column of a multi-column frame) in the layout at `out`:
    * their rows at or below generation `uptoGen` are suppressed
    * (`Long.MaxValue`: every generation until the next compaction).
    * One bounded file of (key, upto_gen) per call; re-writing the same
    * keys is idempotent ([[tombstonesOf]] max-folds per key), so an
    * at-least-once maintainer may replay this safely. */
  def tombstone(keys: DataFrame, out: String, keyCol: String, uptoGen: Long): Unit = {
    // the key set is diff-bounded by contract: dedupe DRIVER-SIDE
    // (one collect job — free when the caller passes a LocalRelation)
    // instead of a distinct() exchange, so the sidecar write is one
    // single-stage job. Over-cap inputs fall back to the exchange.
    val sel = keys.select(col(keyCol))
    val l = Bounded.localize(sel)
    val rows =
      if (l.local)
        sel.sparkSession.createDataFrame(
          java.util.Arrays.asList(l.rows.distinct: _*), sel.schema)
      else l.df.distinct()
    rows.withColumn("upto_gen", lit(uptoGen))
      .coalesce(1).write.mode("append").parquet(s"$out/_tombstones")
    l.release()
  }

  /** Apply one CDC batch at generation `gen` — the generation rule of
    * every maintained family, kept here once: tombstone the `dirty`
    * keys at `upto_gen = gen − 1` (their rows of earlier generations
    * are suppressed; None skips the delete), then run `append`, which
    * writes the batch's rows at `gen` — live at once, never covered by
    * this batch's own tombstones. A replay at the same `gen` lands on
    * the same live rows ([[tombstone]] is idempotent, the appends are
    * per-generation overwrites), which is what [[liveAsOf]] relies on. */
  def applyBatch(dirty: Option[DataFrame], out: String, keyCol: String, gen: Long)
                (append: => Unit): Unit = {
    dirty.foreach(tombstone(_, out, keyCol, uptoGen = gen - 1))
    append
  }

  /** The accumulated tombstones as (key, upto_gen), max-folded per key
    * (a key deleted twice keeps the widest suppression), or None when
    * the sidecar does not exist. */
  def tombstonesOf(spark: SparkSession, out: String): Option[DataFrame] =
    foldTombstones(spark, out, maxUpto = Long.MaxValue)

  /** [[tombstonesOf]] over the sidecar's rows with `upto_gen <=
    * maxUpto`: driver-local when bounded, else a Spark aggregate. */
  private def foldTombstones(spark: SparkSession, out: String,
                             maxUpto: Long): Option[DataFrame] =
    if (!Files.isDirectory(Paths.get(out, "_tombstones"))) None
    else Some(tombstonesLocal(spark, out, maxUpto).getOrElse {
      val raw = ParquetRows.frame(spark, s"$out/_tombstones")
      raw.filter(col("upto_gen") <= maxUpto)
        .groupBy(raw.columns.head).agg(max(col("upto_gen")).as("upto_gen"))
    })

  /** The tombstone fold as a DRIVER-LOCAL relation — None when the
    * sidecar is over-cap or has a shape the driver reader doesn't
    * handle (callers then run the Spark fold as before).
    *
    * Why: [[live]]/[[liveAsOf]] BROADCAST the folded tombstones into
    * every consuming action, and a broadcast whose child is a real
    * scan+aggregate re-runs as one Spark job per action — the
    * maintenance loops paid that per store per microbatch/epoch. The
    * sidecar is diff-bounded by the same contract that lets the live
    * view broadcast it at all, so the fold is a microsecond driver
    * read ([[ParquetRows.foreach]] — the policy path's reader), and a
    * broadcast over the resulting LocalRelation builds with ZERO jobs.
    * Only rows with `upto_gen <= maxUpto` fold: [[liveAsOf]] filters
    * before the max-fold (the replay-stability rule). */
  private[graft] def tombstonesLocal(spark: SparkSession, out: String,
                                     maxUpto: Long): Option[DataFrame] =
    try {
      val dir = Paths.get(out, "_tombstones")
      if (footerRowCountOf(dir) > Bounded.maxRows(spark)) return None
      var keyName: String = null
      var keyType: org.apache.spark.sql.types.DataType = null
      // key -> max upto_gen
      val maxGen = new java.util.HashMap[Any, java.lang.Long]()
      def keyOf(g: org.apache.parquet.example.data.Group): Any = {
        if (keyName == null) {
          keyName = g.getType.getFieldName(0)
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          import org.apache.spark.sql.types._
          keyType = g.getType.getType(0).asPrimitiveType().getPrimitiveTypeName match {
            case INT64 => LongType
            case INT32 => IntegerType
            case BINARY => StringType
            case DOUBLE => DoubleType
            case BOOLEAN => BooleanType
            case other => throw new IllegalStateException(s"key type $other")
          }
        }
        if (g.getFieldRepetitionCount(0) == 0) null
        else keyType match {
          case org.apache.spark.sql.types.LongType => g.getLong(0, 0)
          case org.apache.spark.sql.types.IntegerType => g.getInteger(0, 0)
          case org.apache.spark.sql.types.StringType => g.getString(0, 0)
          case org.apache.spark.sql.types.DoubleType => g.getDouble(0, 0)
          case _ => g.getBoolean(0, 0)
        }
      }
      ParquetRows.foreach(dir) { g =>
        val k = keyOf(g)
        val i = g.getType.getFieldIndex("upto_gen")
        val u = if (g.getFieldRepetitionCount(i) == 0) Long.MinValue
                else g.getLong(i, 0)
        if (u <= maxUpto) {
          val prev = maxGen.get(k)
          if (prev == null || u > prev) maxGen.put(k, u)
        }
      }
      if (keyName == null) return None // empty sidecar: let Spark read it
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val schema = StructType(Seq(StructField(keyName, keyType),
        StructField("upto_gen", LongType)))
      val rows = maxGen.entrySet().iterator().asScala
        .map(e => org.apache.spark.sql.Row(e.getKey, e.getValue.longValue())).toList
      Some(spark.createDataFrame(rows.asJava, schema))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // loud (once per store): a silent None here permanently reverts
        // every live()/liveAsOf() read to the per-action Spark fold —
        // the exact regression the driver-local fold removed — and a
        // genuine reader bug (unexpected key physical type, schema
        // evolution) would otherwise never surface (r17 advice item 4)
        if (tombstoneFoldWarned.add(out))
          System.err.println(s"[segmented-index] driver-local tombstone fold " +
            s"failed for $out (${e.getClass.getName}: ${e.getMessage}); " +
            "falling back to the Spark fold for this store")
        None
    }

  /** Stores whose driver-local tombstone fold already warned — one
    * line per store per JVM, not one per consuming action. */
  private val tombstoneFoldWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `raw` minus tombstone-covered rows: the diff-bounded broadcast
    * anti-join every probe/report pays between compactions. `genCol`
    * names the stored generation column; a row is suppressed when its
    * generation is at or below the tombstone's `upto_gen`. With no
    * sidecar, `raw` comes back unchanged. */
  def live(spark: SparkSession, raw: DataFrame, out: String,
           keyCol: String, genCol: String): DataFrame =
    suppress(raw, tombstonesOf(spark, out), keyCol, genCol)

  /** The anti-join of [[live]] and [[liveAsOf]] against folded
    * tombstones `t` (broadcast: the sidecar is diff-bounded). */
  private def suppress(raw: DataFrame, t: Option[DataFrame],
                       keyCol: String, genCol: String): DataFrame =
    t.fold(raw) { folded =>
      raw.join(broadcast(folded.withColumnRenamed(keyCol, "_t_key")),
        col(keyCol) === col("_t_key") && col(genCol) <= col("upto_gen"), "left_anti")
    }

  /** [[live]] as of generation `asOfGen` — the TIME-TRAVEL read that
    * makes an at-least-once streaming maintainer deterministic: only
    * segments at or below `asOfGen` and only tombstones earlier batches
    * wrote (`upto_gen < asOfGen`, by the writer convention that batch g
    * tombstones up to g−1). Generations ≤ asOfGen are immutable once
    * batch asOfGen commits — batch g only overwrites segment g and
    * appends tombstones at g−1 — so a REPLAYED batch g reading
    * `liveAsOf(g−1)` sees exactly what its first attempt saw, computes
    * the same recompute set, and its segment-overwrite + tombstone
    * re-append land idempotently. The tombstone filter runs BEFORE the
    * per-key max-fold (a later batch's wider tombstone must not mask
    * an earlier batch's). */
  def liveAsOf(spark: SparkSession, raw: DataFrame, out: String,
               keyCol: String, genCol: String, asOfGen: Long): DataFrame =
    suppress(raw.filter(col(genCol) <= asOfGen),
      foldTombstones(spark, out, maxUpto = asOfGen - 1), keyCol, genCol)

  /** Write one GENERATION SEGMENT of a partition-dir layout: rows land
    * under `out/gen=<g>` with OVERWRITE, so an at-least-once maintainer
    * replaying generation g replaces its own prior attempt instead of
    * duplicating it (the exactly-once move parquet `append` can't
    * give). Reading `out` recovers `gen` as a partition column, which
    * is exactly the [[live]] `genCol`; Spark's file listing skips the
    * underscore sidecars. The frame must not itself carry a `gen`
    * column. */
  def appendSegment(rows: DataFrame, out: String, gen: Long): Unit = {
    val seg = Paths.get(out, s"gen=$gen")
    val tracked = readRowCount(out).isDefined
    // replay accounting: an at-least-once maintainer overwriting its
    // own prior attempt must not double-count — charge the DELTA
    // against whatever this segment held before. Driver-side footer
    // reads, segment-bounded, no Spark job. A CRASHED prior attempt's
    // half-written files count whatever footers they committed (0 for
    // none) — the overwrite below is the heal. Crash-window drift
    // note: an attempt that died between its write and its bump
    // leaves the sidecar LOW, which only over-states the covered
    // fraction — compaction fires EARLY and re-bases the count (the
    // estimate's safe direction, like its never-stored-key
    // over-count).
    // catch ONLY the torn-file signatures a crashed prior attempt can
    // leave (truncated footer, bad magic, corrupt metadata) — those
    // legitimately count as 0 prior rows and the overwrite below is
    // the heal. Any OTHER failure (permissions, a vanished volume)
    // propagates: treating a healthy-but-unreadable segment as 0 rows
    // would double-count the replay and drift the sidecar HIGH — the
    // unsafe direction (compaction delayed, never self-healing).
    val prior = if (tracked)
      try footerRowCountOf(seg) catch {
        case e: Throwable if tornParquet(e) =>
          System.err.println(s"[segmented-index] torn prior attempt under " +
            s"$seg counted as 0 rows: ${e.getMessage}")
          0L
      }
    else 0L
    rows.write.mode("overwrite").parquet(seg.toString)
    if (tracked) bumpRowCount(out, footerRowCountOf(seg) - prior)
  }

  /** Per-generation OVERWRITE append for layouts whose generation
    * cannot be a `gen=<g>` partition directory — the postings layout
    * stores `gen` as an in-file column, and the IVF/PQ layouts
    * partition by `cell=` — so [[appendSegment]]'s directory
    * overwrite can't apply. Same idempotency by FILE NAMING instead:
    * the batch's rows are staged under an invisible `_stage_gen<g>`
    * dir, any PRIOR attempt's published files for this generation
    * (name-prefixed `gen<g>-`) are deleted, and the staged part files
    * move in under that prefix, mirroring the stage's partition-dir
    * structure. An at-least-once maintainer replaying generation g
    * therefore REPLACES its own earlier attempt instead of
    * duplicating it, and a crash anywhere heals on replay: the stage
    * is rebuilt from scratch, the prefix sweep removes a partial
    * publish. Scope: a replay is idempotent only while the files are
    * still gen-named — a compaction folds them into its rewrite, so
    * the guarantee is "between compactions", which covers the bounded
    * streaming drives (they compact at end of stream, after the last
    * possible redelivery). Generation numbers must be unique per
    * layout lifetime except when replaying (the stream's
    * batchId-derived convention). Single-maintainer, like every
    * layout op here. */
  def publishGeneration(out: String, gen: Long)
                       (stageWrite: String => Unit): Unit = {
    val root = Paths.get(out)
    val stage = root.resolve(s"_stage_gen$gen")
    DirSwap.deleteTree(stage)
    stageWrite(stage.toString)
    val prefix = s"gen$gen-"
    val tracked = readRowCount(out).isDefined
    // driver-side footer row count of an explicit file list (never a
    // layout listing, never a Spark job) — batch-bounded, only paid
    // when the layout tracks its row count. Crash-window drift note:
    // an attempt that died between moving its files in and bumping
    // the count leaves the sidecar LOW (this replay then charges the
    // orphans as priorRows), which only over-states the covered
    // fraction — compaction fires early and re-bases (the safe
    // direction).
    def fcount(files: Seq[java.nio.file.Path]): Long = ParquetRows.rowCount(files)
    // sweep a prior attempt's published files for this generation
    // (data dirs only: underscore sidecars are never gen-published);
    // for replay accounting the swept rows are counted BEFORE deletion
    val sweptB = Seq.newBuilder[java.nio.file.Path]
    def collectSwept(dir: java.nio.file.Path): Unit =
      Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala.toList.foreach { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p)) {
            if (!n.startsWith("_") && !n.startsWith(".")) collectSwept(p)
          } else if (n.startsWith(prefix)) sweptB += p
        }
      }
    collectSwept(root)
    val swept = sweptB.result()
    val priorRows = if (tracked) fcount(swept) else 0L
    swept.foreach(Files.delete)
    // move the staged data files in under the generation prefix,
    // mirroring partition dirs (cell=N/...); marker files stay behind
    // and vanish with the stage
    val publishedB = Seq.newBuilder[java.nio.file.Path]
    def publish(dir: java.nio.file.Path): Unit =
      Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala.toList.foreach { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (Files.isDirectory(p)) {
              Files.createDirectories(root.resolve(stage.relativize(p).toString))
              publish(p)
            } else {
              val rel = stage.relativize(p.getParent).toString
              val tgtDir = if (rel.isEmpty) root else root.resolve(rel)
              val tgt = tgtDir.resolve(prefix + n)
              Files.move(p, tgt)
              publishedB += tgt
            }
          }
        }
      }
    publish(stage)
    DirSwap.deleteTree(stage)
    if (tracked) bumpRowCount(out, fcount(publishedB.result()) - priorRows)
  }

  /** Whether any published file of generation `gen` exists in the
    * layout — a metadata walk of the data dirs for the `gen<g>-`
    * prefix. Lets an AD-HOC (un-generationed) append refuse a
    * generation some other process (a crashed maintainer, a reused
    * pid) already published: [[publishGeneration]]'s prefix sweep
    * REPLACES a prior attempt's files, which is the replay contract
    * for an explicit generation and silent data loss for an ad-hoc
    * one. */
  def generationPublished(out: String, gen: Long): Boolean = {
    val prefix = s"gen$gen-"
    def walk(dir: java.nio.file.Path): Boolean =
      Files.isDirectory(dir) && Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala.exists { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p)) !n.startsWith("_") && !n.startsWith(".") && walk(p)
          else n.startsWith(prefix)
        }
      }
    walk(Paths.get(out))
  }

  /** EXACT fraction of stored rows a fresh probe's anti-join would
    * drop — a full-layout anti-join plus two counts, so this is the
    * SPEC-SIDE check (the estimate below is what the policy reads at
    * scale; MaintainedStoreEstimateSpec pins the two equal on every
    * maintained-store shape). 0.0 when no tombstones exist. */
  def coveredFraction(spark: SparkSession, raw: DataFrame, out: String,
                      keyCol: String, genCol: String): Double =
    tombstonesOf(spark, out).fold(0.0) { _ =>
      val total = raw.count()
      if (total == 0L) 0.0
      else 1.0 - live(spark, raw, out, keyCol, genCol).count().toDouble / total
    }

  /** Distinct tombstone INSTANCES in the sidecar: distinct (key,
    * upto_gen) pairs — a key re-deleted at a later generation is a new
    * instance, a REPLAYED at-least-once delete re-writing the same pair
    * is not. A DRIVER-SIDE scan of the diff-bounded sidecar
    * (no Spark job — the policy path reads only sidecar + footer
    * metadata); the in-memory distinct set is bounded by the same
    * contract that lets [[live]] BROADCAST the fold of these rows.
    * 0 when the sidecar does not exist. */
  def tombstoneInstances(out: String): Long = {
    val seen = new java.util.HashSet[String]()
    ParquetRows.foreach(Paths.get(out, "_tombstones")) { g =>
      // field 0 is the key column ([[tombstone]] writes it first);
      // value-to-string is injective per column type, which is all a
      // distinct count needs (a null key renders as its own token)
      def repr(i: Int) =
        if (g.getFieldRepetitionCount(i) == 0) "\u0000null"
        else g.getValueToString(i, 0)
      seen.add(repr(0) + "\u0000" + repr(g.getType.getFieldIndex("upto_gen")))
    }
    seen.size().toLong
  }

  /** The SPEC-SIDE twin of [[tombstoneInstances]]: the same distinct
    * count as a Spark query, so MaintainedStoreEstimateSpec can pin
    * the driver-side scan against an independent derivation on every
    * sidecar shape. Never on the policy path. */
  private[graft] def tombstoneInstancesSpark(spark: SparkSession, out: String): Long =
    if (!Files.isDirectory(Paths.get(out, "_tombstones"))) 0L
    else {
      val raw = ParquetRows.frame(spark, s"$out/_tombstones")
      raw.select(col(raw.columns.head), col("upto_gen")).distinct().count()
    }

  /** METADATA-CHEAP covered-fraction estimate — what [[maybeCompact]]
    * reads instead of [[coveredFraction]]'s full-layout anti-join (at
    * 100 TB that anti-join is a corpus-sized read just to decide
    * whether to compact; this is a sidecar read plus a footer-only
    * parquet count):
    *
    *   instances × rowsPerInstance / totalRows
    *
    * `rowsPerInstance` is the owner's per-(key, generation) row count
    * — 1 for the vector layouts (one row per vec per generation), k
    * for the kNN edge store (k edges per node per generation). Under
    * the maintainer convention (batch g tombstones up to g−1 exactly
    * the keys whose rows it replaces or removes, compaction clears
    * the sidecar) every tombstone instance suppresses exactly one
    * generation's rows of its key, so the estimate is EXACT for those
    * layouts; a tombstone naming a key with no stored rows
    * over-estimates, which only compacts EARLY (a wasted rewrite,
    * never a correctness risk). Layouts with variable rows-per-key
    * (postings) derive live counts from their own sidecar instead —
    * see TextOps.postingsCoveredFraction.
    *
    * The layout must track its row count ([[writeRowCount]]): the
    * whole measurement is the driver-side sidecar scan plus one tiny
    * file read — zero Spark jobs, zero layout listings — and an
    * untracked layout is a LOUD error instead of a silent per-epoch
    * listing walk (g07's reset path already hit exactly that trap once,
    * the r16 verdict's item 5). */
  def coveredFractionEstimate(out: String, rowsPerInstance: Double = 1.0): Double = {
    val total = trackedRowCount(out)
    val instances = tombstoneInstances(out)
    if (instances == 0L || total == 0L) 0.0
    else math.min(1.0, instances * rowsPerInstance / total)
  }

  /** The maintained row count, with a loud guard for the policy
    * sites: the layout must track it (opt in with [[writeRowCount]] at
    * build/seed, and RE-opt-in after any out-of-band reset that
    * rebuilds the dir). */
  def trackedRowCount(out: String): Long = {
    val n = readRowCount(out)
    require(n.isDefined,
      s"maintained layout at $out does not track its row count: " +
        "write the _rowcount sidecar at build (SegmentedIndex.writeRowCount) " +
        "so the compaction policy never falls back to a per-epoch layout listing")
    n.get
  }

  /** The compaction trigger: compact once tombstones cover MORE than
    * this fraction of stored rows, bounding steady-state read-amp of
    * the live anti-join at 1/(1−threshold) ≈ 2× between compactions. */
  val CompactThreshold = 0.5

  /** The compaction policy, the one place it is decided: whether a
    * layout whose tombstones cover `covered` of its stored rows is due
    * a rewrite — strictly above [[CompactThreshold]]. [[maybeCompact]]
    * and the multi-epoch chains ([[graft.analytics.Pipeline.epochChain]])
    * both ask here. */
  def compactDue(covered: Double): Boolean = covered > CompactThreshold

  /** Policy-driven compaction — the when-to-compact decision the
    * owners previously made by convention (every epoch, or at end of
    * stream): measure the tombstone-covered fraction with the
    * METADATA-CHEAP [[coveredFractionEstimate]] (the exact anti-join
    * stays a spec-side check) and run `writeRewrite` through
    * [[compactWith]] only when [[compactDue]]. Returns whether a
    * compaction ran, so callers can assert the policy in specs. Same
    * single-maintainer contract as the pieces. REQUIRES a tracked
    * layout ([[coveredFractionEstimate]]): the policy check runs zero Spark
    * jobs and zero layout listings, every round — an untracked
    * maintained layout fails loudly here instead of silently paying
    * a per-epoch metadata walk. */
  def maybeCompact(out: String, skipSidecars: Set[String] = Set.empty,
                   rowsPerInstance: Double = 1.0)
                  (writeRewrite: String => Unit): Boolean = {
    val due = compactDue(coveredFractionEstimate(out, rowsPerInstance))
    if (due) compactWith(out, skipSidecars)(writeRewrite)
    due
  }

  /** Rewrite partitioning for a compaction, SCALE-ADAPTIVE off the
    * layout's own tracked row count: a big layout clusters by
    * `partCol` (one output file per partition value — the §6 file
    * discipline a million-file deployment needs), while a layout whose
    * stored rows fit under the driver-local cap rewrites in ONE task
    * ([[Bounded.singleTask]]) — AQE would coalesce that shuffle to one
    * partition anyway, so the exchange only bought a stage-job.
    * `readRowCount` counts STORED rows (≥ live rows), so the bound is
    * sound; untracked layouts keep the clustered rewrite. */
  def rewriteClustered(df: DataFrame, out: String, partCol: String): DataFrame =
    Bounded.singleTask(df, readRowCount(out)).getOrElse(df.repartition(col(partCol)))

  /** The compaction shell every owner shares: heal a crashed prior
    * swap, hand the caller the staging dir to write the rewrite into
    * (the owner chooses partitioning), carry every underscore sidecar
    * EXCEPT the just-applied `_tombstones` (and the row-count sidecar
    * — stale after the rewrite, refreshed below) verbatim, and
    * publish with the two-rename swap. For a tracked layout the
    * maintained count is re-based from the fresh rewrite's footers —
    * a driver-side walk of exactly what was just written,
    * proportionally free against the corpus-sized rewrite itself. */
  def compactWith(out: String, skipSidecars: Set[String] = Set.empty)
                 (writeRewrite: String => Unit): Unit = {
    val tracked = readRowCount(out).isDefined
    DirSwap.recover(out)
    val tmp = DirSwap.compactingPath(out)
    writeRewrite(tmp.toString)
    // `_tombstones` is always skipped (just applied — the epoch
    // boundary), `_rowcount` too (rewritten fresh below);
    // `skipSidecars` names sidecars the owner rewrote itself inside
    // writeRewrite (e.g. a refine sidecar that must also drop
    // tombstoned rows instead of copying verbatim)
    val skip = skipSidecars + "_tombstones" + "_rowcount"
    Using.resource(Files.list(Paths.get(out))) { sides =>
      sides.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("_") && Files.isDirectory(p)
          && !skip.contains(p.getFileName.toString))
        .foreach(side => DirSwap.copyTree(side, tmp.resolve(side.getFileName.toString)))
    }
    DirSwap.swapInto(out)
    if (tracked) writeRowCount(out, footerRowCountOf(Paths.get(out)))
  }

  /** Newest-generation-per-key resolution for APPEND-LOG indexes (the
    * image-fingerprint log): (key, gen, op) rows where the newest
    * generation wins and `op == "rm"` rows delete — the TableStore's
    * newest-row-wins semantics applied to an index artifact, needing
    * no tombstone sidecar at all. */
  def resolveNewest(log: DataFrame, keyCol: String, genCol: String,
                    opCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(genCol).desc)
    log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col(opCol) === "put")
      .drop("_rn", genCol, opCol)
  }
}

package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.etl.CopyDb
import graft.filters.JsonUtil
import graft.store.{JsonFileStore, TableStore}
import graft.core.ParquetRows

/** Driver-gate entries that exercise the aerovaldb store surface
  * (SURVEY.md §2.1–§2.9) end-to-end as Spark jobs: build the golden
  * fixture tree in a temp dir, run the real store machinery, and
  * return the result as a DataFrame. Rows-only checks (the store
  * operates on its own fixture assets, not the star-schema tables).
  */
object StoreQueries {

  /** The deterministic golden fixture (same shape as the test suite's;
    * duplicated here because test sources aren't on the runtime
    * classpath). */
  private def buildFixture(root: java.nio.file.Path): java.nio.file.Path = {
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    put("project/experiments.json", """{"exp": 1}""")
    put("project/models-style.json", """{"style": 1}""")
    val e = "project/experiment"
    put(s"$e/cfg_project_experiment.json",
      """{"exp_info": {"pyaerocom_version": "0.13.5"}}""")
    put(s"$e/menu.json", """{"menu": 1}""")
    put(s"$e/ranges.json", """{"ranges": 1}""")
    put(s"$e/hm/glob_stats_daily.json",
      """{"od550aer": {"AERONET": {"Column": {"model": {"od550aer": {
        |  "Europe": {"2024": {"nmb": 0.1}}}}}}}}""".stripMargin)
    put(s"$e/ts/loc_AERONET-od550aer_Column.json", """{"ts": 1}""")
    put(s"$e/map/AERONET-od550aer_Column_model-od550aer_2024.json",
      """[{"station_name": "s", "latitude": 0.0, "longitude": 0.0,
        |  "Monthly": {"DJF": {"nmb": 1.0}, "JJA": {"nmb": 2.0}}}]""".stripMargin)
    val old = "project/experiment-old"
    put(s"$old/cfg_project_experiment-old.json",
      """{"exp_info": {"pyaerocom_version": "0.0.5"}}""")
    put(s"$old/map/AERONET-od550aer_Column_model-od550aer.json", """[{"old": true}]""")
    put("reports/project/experiment/summary.json", """{"report": 1}""")
    root
  }

  /** Distributed catalog ingest over the fixture tree: listing +
    * reverse-parse on executors, then a catalog-DataFrame query. */
  def av01CatalogIngest(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av01") { tmp =>
      val root = buildFixture(tmp)
      val catalog = Catalog.ingest(spark, root.toString)
      // the catalog frame parses the fixture files lazily — materialize
      // before the scoped tree is deleted
      catalog.select(col("uri"), col("route"), col("project"), col("experiment"))
        .orderBy("uri").localCheckpoint(true)
    }

  /** Cross-backend copy ETL: fixture json store → Spark TableStore,
    * verified cardinality, per-route counts. */
  def av02CopyEtl(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av02") { tmp =>
    import spark.implicits._
    val root = buildFixture(tmp.resolve("fixture"))
    val src = new JsonFileStore(root.toString)
    val dst = new TableStore(spark, tmp.resolve("tbl").toString)
    CopyDb.copyDbContents(src, dst)
    val counts = dst.query().groupBy(_.route.name).view.mapValues(_.size).toSeq.sorted
    src.close(); dst.close()
    counts.toDF("route", "n_assets").orderBy("route")
    }

  /** Point-get + content-filter path through the store (the §3.1 read
    * lifecycle): filtered heatmap + filtered map via the typed API. */
  def av03FilteredReads(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av03") { tmp =>
    import spark.implicits._
    val root = buildFixture(tmp)
    val db = new JsonFileStore(root.toString)
    val hm = db.getHeatmap("project", "experiment", "daily", "Europe", "2024") match {
      case graft.core.AssetValue.Json(s) => s
      case other => other.toString
    }
    val mp = db.getMap("project", "experiment", "AERONET", "od550aer", "Column",
      "model", "od550aer", "2024", frequency = Some("Monthly"), season = Some("DJF")) match {
      case graft.core.AssetValue.Json(s) => s
      case other => other.toString
    }
    val legacy = db.getMap("project", "experiment-old", "AERONET", "od550aer", "Column",
      "model", "od550aer", "2024") match {
      case graft.core.AssetValue.Json(s) => s
      case other => other.toString
    }
    db.close()
    Seq(("heatmap_filtered", hm), ("map_filtered", mp), ("map_legacy_layout", legacy))
      .toDF("op", "result").orderBy("op")
    }

  /** Bulk import (in the driver, one parquet file per table partition
    * directory, no Spark job) with cardinality verification; returns
    * the imported catalog. */
  def av04BulkImport(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av04") { tmp =>
    import spark.implicits._
    val root = buildFixture(tmp.resolve("fixture"))
    val src = new JsonFileStore(root.toString)
    val dst = new TableStore(spark, tmp.resolve("bulk").toString)
    val n = CopyDb.bulkImport(spark, src, dst)
    val uris = dst.listAll().sorted
    src.close(); dst.close()
    uris.map(u => (u, n)).toDF("uri", "n_imported").orderBy("uri")
    }

  /** Incremental catalog refresh end-to-end (the §2.6 listing surface
    * kept warm without re-walking): ingest the fixture, mutate it
    * (add one asset, touch one — same size, newer mtime — delete one),
    * `Catalog.refresh` the prior catalog, and prove with a parse
    * accumulator that ONLY the changed files were re-parsed and that
    * the refreshed catalog equals a from-scratch re-ingest. At millions
    * of assets this is the difference between a full tree re-parse per
    * sync and touching exactly the changed paths. */
  def av05CatalogRefresh(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av05") { tmp =>
    import spark.implicits._
    val root = buildFixture(tmp)
    val c0 = spark.sparkContext.longAccumulator("av05-parse-initial")
    // localCheckpoint: freeze the rows so the post-mutation refresh
    // cannot silently re-run the initial parse against the mutated tree
    val cat0 = Catalog.ingest(spark, root.toString, Some(c0))
      .localCheckpoint(true)
    val n0 = cat0.count()
    val add = root.resolve("project/experiment/ts/loc2_AERONET-od550aer_Column.json")
    Files.writeString(add, """{"ts": 2}""")
    val mod = root.resolve("project/experiment/menu.json")
    Files.writeString(mod, """{"menu": 2}""") // same byte length: mtime must catch it
    Files.setLastModifiedTime(mod, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(mod).toMillis + 5000))
    Files.delete(root.resolve("project/experiment/ranges.json"))
    val c1 = spark.sparkContext.longAccumulator("av05-parse-refresh")
    val refreshed = Catalog.refresh(spark, cat0, root.toString, Some(c1))
      .localCheckpoint(true)
    val nRef = refreshed.count()
    val full = Catalog.ingest(spark, root.toString)
    val eq = refreshed.exceptAll(full).isEmpty && full.exceptAll(refreshed).isEmpty
    val added = refreshed.filter(col("src_path") === add.toString).count()
    val dropped = refreshed.filter(col("src_path").endsWith("/ranges.json")).count()
    Seq(
      ("a_initial_assets", n0),
      ("b_files_reparsed_on_refresh", c1.value.longValue),
      ("c_refreshed_assets", nRef),
      ("d_added_asset_present", added),
      ("e_deleted_asset_gone", if (dropped == 0) 1L else 0L),
      ("f_refresh_equals_reingest", if (eq) 1L else 0L),
    ).toDF("op", "value").orderBy("op")
    }

  /** av06 gate: replica-consistency audit — the check an operator runs
    * after a cross-backend copy (or against a standing replica): diff
    * the two stores by (uri, content hash), using the SAME `cdcDiff`
    * operator the corpus CDC gates use, applied to store catalogs.
    * The freshly-copied replica must diff CLEAN (enforced — a
    * non-empty pre-mutation diff fails the gate loudly); three planted
    * divergences (one asset overwritten in the replica, one deleted
    * from it, one removed from the source so the replica holds an
    * orphan) must come back as exactly those three rows. At scale both
    * hash sets come from distributed catalog scans; the diff itself
    * shuffles (uri, hash) pairs only. */
  def av06StoreDrift(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av06") { tmp =>
    import spark.implicits._
    val root = buildFixture(tmp.resolve("fixture"))
    val src = new JsonFileStore(root.toString)
    val dst = new TableStore(spark, tmp.resolve("drift").toString)
    CopyDb.copyDbContents(src, dst)
    // Both hash sets come from DISTRIBUTED catalog scans — the json
    // backend via Catalog.contentHashes (Spark lists the tree,
    // executors reverse-parse + hash), the table backend via its
    // per-table live-row scan — so the audit never does per-asset
    // driver round-trips. Hashing is over the sorted-key CANONICAL
    // JSON form (JsonUtil.contentMd5): the two backends legitimately
    // store the same asset with different formatting/field order, and
    // the audit wants formatting-independent CONTENT equality. Keys
    // are the version-stripped LOGICAL uri: the json backend's listing
    // carries `?version=` kwargs (a physical-layout detail) the table
    // backend's does not — same asset, same identity.
    def srcHashes = Catalog.contentHashes(spark, root.toString)
      .toDF("doc_id", "old_md5")
    def dstHashes = dst.contentHashFrame().toDF("doc_id", "new_md5")
    val pre = Dedup.cdcDiff(srcHashes, dstHashes).count()
    require(pre == 0, s"copy verification failed: $pre assets diverge before mutation")
    val jsonUris = dst.listAll()
      .filter(u => !graft.core.Route.blobRoutes.contains(graft.codec.UriCodec.parse(u)._1))
      .sorted
    dst.putByUri(jsonUris(0), """{"planted": "drift"}""")
    dst.rmByUri(jsonUris(1))
    src.rmByUri(jsonUris(2))
    val drift = Dedup.cdcDiff(srcHashes, dstHashes)
      .select(col("doc_id").as("uri"), col("change_type"))
      .orderBy("uri")
    val out = drift.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    src.close(); dst.close()
    out.toDF("uri", "change_type").orderBy("uri")
    }

  /** av07 gate: time-travel reads — the reproducibility contract a
    * training pipeline needs from its store: pin `snapshotSeq()`
    * before a run, and reads at that marker return the dataset
    * EXACTLY as it was, whatever lands later. The gate pins all three
    * later-mutation kinds invisible at the marker: an overwrite (the
    * asset reads back as its old generation), a new asset (absent at
    * the marker), and a delete (still present at the marker). Free by
    * construction on the append log — nothing rewrites, so history
    * survives until compact(). */
  def av07TimeTravel(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av07") { tmp =>
    import spark.implicits._
    val db = new TableStore(spark, tmp.toString)
    db.putMenu("""{"gen": 1}""", "p", "e1")
    db.putMenu("""{"doomed": true}""", "p", "e2")
    val snap = db.snapshotSeq()
    db.putMenu("""{"gen": 2}""", "p", "e1")          // overwrite after pin
    db.putMenu("""{"late": true}""", "p", "e3")      // new asset after pin
    val e2Uri = db.listAll().find(_.contains("e2")).get
    db.rmByUri(e2Uri)                                // delete after pin
    db.flushAll()
    val e1Uri = db.listAll().find(_.contains("e1")).get
    def jsonOf(v: Option[graft.core.AssetValue]): String = v match {
      case Some(graft.core.AssetValue.Json(s)) => s
      case _ => "<absent>"
    }
    val rows = Seq(
      ("asof_e1", jsonOf(db.getByUriAsOf(e1Uri, snap))),
      ("current_e1", jsonOf(db.getByUriAsOf(e1Uri, db.snapshotSeq()))),
      ("asof_e2_present", db.getByUriAsOf(e2Uri, snap).isDefined.toString),
      ("current_e2_present", db.getByUriAsOf(e2Uri, db.snapshotSeq()).isDefined.toString),
      ("asof_n_assets", db.listAllAsOf(snap).size.toString),
      ("current_n_assets", db.listAll().size.toString))
    db.close()
    rows.toDF("op", "value").orderBy("op")
    }

  /** av08 gate: the store→analytics BRIDGE — the corpus is bulk-loaded
    * into the TableStore as JSON assets (one distributed partitioned
    * append, no driver loop), then served BACK as a DataFrame via
    * [[graft.store.TableStore.liveFrame]] and run through t06's exact
    * dedup — proving the aerovaldb store surface and the analytics
    * layer compose: "DataFrame for ETL to aeroval database" works in
    * BOTH directions. The oracle is t06's own SQL over the parquet
    * fixture, so the gate also proves the store round-trip is
    * content-lossless (same fingerprints, same survivor accounting).
    * At 100 TB every step is distributed: the load is a partitioned
    * parquet append, the serve is a pruned scan of live rows, the
    * dedup shuffles 16-char hashes. */
  def av08StoreServedDedup(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av08") { tmp =>
    import org.apache.spark.sql.types._
    val store = new TableStore(spark, tmp.toString)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    store.bulkAppend("report", docs.select(
      lit("corpus").as("project"), col("source").as("experiment"),
      col("doc_id").cast("string").as("title"),
      to_json(struct(col("doc_id"), col("source"), col("text"))).as("json"),
      lit(null).cast("binary").as("blob")))
    val payload = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val served = store.liveFrame("report")
      .getOrElse(sys.error("bridge table missing after bulk load"))
      .select(from_json(col("json"), payload).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.source").as("source"),
        col("d.text").as("text"))
    val out = TextOps.dedupExactOver(served).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    store.close()
    import spark.implicits._
    out.toDF("source", "n_unique", "n_removed").orderBy("source")
    }

  /** av09 gate: retention vacuum — the missing middle between av07's
    * keep-everything time travel and compact()'s drop-everything:
    * `compactRetain(table, marker)` collapses history older than the
    * marker to one winner row per key while every later put/overwrite/
    * delete survives verbatim, so reads AT OR AFTER the marker are
    * bit-identical before and after the vacuum and the log still
    * shrinks. The gate pins all of it: the pinned snapshot's reads
    * (all three mutation kinds) unchanged across the vacuum, the
    * current state unchanged, and the physical row count strictly
    * smaller. This is the VACUUM RETAIN contract that lets a store
    * keep reproducible training snapshots without an unbounded log. */
  def av09RetentionVacuum(spark: SparkSession, dir: String): DataFrame =
    graft.core.TempDirs.scoped("graft-storeq-av09") { tmp =>
    import spark.implicits._
    val db = new TableStore(spark, tmp.toString)
    db.putMenu("""{"gen": 1}""", "p", "e1")
    db.putMenu("""{"doomed": true}""", "p", "e2")
    db.putMenu("""{"gen": 2}""", "p", "e1")          // pre-marker overwrite
    db.putMenu("""{"late": true}""", "p", "e3")
    val e2Uri = db.listAll().find(_.contains("e2")).get
    db.rmByUri(e2Uri)                                // pre-marker delete
    db.flushAll()
    val marker = db.snapshotSeq()
    db.putMenu("""{"gen": 3}""", "p", "e1")          // post-marker history
    db.putMenu("""{"gen": 4}""", "p", "e1")
    db.flushAll()
    val e1Uri = db.listAll().find(_.contains("e1")).get
    def jsonOf(v: Option[graft.core.AssetValue]): String = v match {
      case Some(graft.core.AssetValue.Json(s)) => s
      case _ => "<absent>"
    }
    def observed(): Seq[String] = Seq(
      jsonOf(db.getByUriAsOf(e1Uri, marker)),
      db.getByUriAsOf(e2Uri, marker).isDefined.toString,
      db.listAllAsOf(marker).size.toString,
      jsonOf(db.getByUriAsOf(e1Uri, db.snapshotSeq())),
      db.listAll().size.toString)
    val before = observed()
    val rowsBefore = ParquetRows.frame(spark, s"${db.basedir}/menu").count()
    db.compactRetain("menu", marker)
    val after = observed()
    val rowsAfter = ParquetRows.frame(spark, s"${db.basedir}/menu").count()
    val rows = Seq(
      ("a_asof_e1", after.head),
      ("b_asof_e2_present", after(1)),
      ("c_asof_n_assets", after(2)),
      ("d_current_e1", after(3)),
      ("e_current_n_assets", after(4)),
      ("f_reads_unchanged_by_vacuum", (before == after).toString),
      ("g_log_shrunk", (rowsAfter < rowsBefore).toString))
    db.close()
    rows.toDF("op", "value").orderBy("op")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "av09_retention_vacuum" -> av09RetentionVacuum _,
    "av01_catalog_ingest" -> av01CatalogIngest _,
    "av02_copy_etl"       -> av02CopyEtl _,
    "av03_filtered_reads" -> av03FilteredReads _,
    "av04_bulk_import"    -> av04BulkImport _,
    "av05_catalog_refresh" -> av05CatalogRefresh _,
    "av06_store_drift"     -> av06StoreDrift _,
    "av07_time_travel"     -> av07TimeTravel _,
    "av08_store_served_dedup" -> av08StoreServedDedup _,
  )

  /** Store-op oracles. av08 round-trips the documents table through
    * the store, so t06's oracle over the parquet fixture is also
    * av08's oracle — hash equality proves the round trip
    * content-lossless.
    *
    * The OTHER av gates run on the golden fixture tree, which is a
    * compile-time constant ([[buildFixture]]) — so their expected
    * outputs are constants too, and each gets a GOLDEN-EXPECTED
    * oracle: the fixture's expected catalog/read/copy results spelled
    * out as SQL literals (the r15 verdict's "replay the expected
    * entries in DuckDB"). These pin the full store contract —
    * reverse-parsed uris and routes, PEP 440 version resolution,
    * legacy-layout fallback, content-filter output bytes, refresh
    * incrementality, the CDC drift rows, and the time-travel/vacuum
    * read matrix — where a rows-only check pinned nothing but
    * cardinality. A failure here names the exact divergent row. */
  val oracleSql: Map[String, String] = Map(
    "av08_store_served_dedup" ->
      """WITH f AS (SELECT source, doc_id,
                     substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) fp
                    FROM documents),
          s AS (SELECT min(doc_id) doc_id, count(*) dups FROM f GROUP BY fp)
         SELECT f.source, count(*) AS n_unique, CAST(sum(s.dups - 1) AS BIGINT) AS n_removed
         FROM s JOIN f ON s.doc_id = f.doc_id
         GROUP BY f.source ORDER BY f.source""",
    // the fixture tree's expected catalog: one row per asset,
    // reverse-parsed uri + route + template args (cfg versions carry
    // the fixture's pyaerocom_version; project-level assets have no
    // experiment)
    "av01_catalog_ingest" ->
      """SELECT * FROM (VALUES
           ('/v0/config/project/experiment-old?version=0.0.5', 'CONFIG', 'project', 'experiment-old'),
           ('/v0/config/project/experiment?version=0.13.5', 'CONFIG', 'project', 'experiment'),
           ('/v0/experiments/project?version=0.0.1', 'EXPERIMENTS', 'project', CAST(NULL AS VARCHAR)),
           ('/v0/heatmap/project/experiment/daily?version=0.13.5', 'HEATMAP', 'project', 'experiment'),
           ('/v0/map/project/experiment-old/AERONET/od550aer/Column/model/od550aer?version=0.0.5', 'MAP', 'project', 'experiment-old'),
           ('/v0/map/project/experiment/AERONET/od550aer/Column/model/od550aer?time=2024&version=0.13.5', 'MAP', 'project', 'experiment'),
           ('/v0/menu/project/experiment?version=0.13.5', 'MENU', 'project', 'experiment'),
           ('/v0/model_style/project?version=0.0.1', 'MODELS_STYLE', 'project', CAST(NULL AS VARCHAR)),
           ('/v0/ranges/project/experiment?version=0.13.5', 'RANGES', 'project', 'experiment'),
           ('/v0/report/project/experiment/summary?version=0.13.5', 'REPORT', 'project', 'experiment'),
           ('/v0/ts/project/experiment/loc/AERONET/od550aer/Column?version=0.13.5', 'TIMESERIES', 'project', 'experiment')
         ) AS t(uri, route, project, experiment) ORDER BY uri""",
    // per-route asset counts after the cross-backend copy (11 fixture
    // assets over 9 routes; CONFIG and MAP carry both experiments)
    "av02_copy_etl" ->
      """SELECT * FROM (VALUES
           ('CONFIG', CAST(2 AS INTEGER)), ('EXPERIMENTS', CAST(1 AS INTEGER)),
           ('HEATMAP', CAST(1 AS INTEGER)), ('MAP', CAST(2 AS INTEGER)),
           ('MENU', CAST(1 AS INTEGER)), ('MODELS_STYLE', CAST(1 AS INTEGER)),
           ('RANGES', CAST(1 AS INTEGER)), ('REPORT', CAST(1 AS INTEGER)),
           ('TIMESERIES', CAST(1 AS INTEGER))
         ) AS t(route, n_assets) ORDER BY route""",
    // the content filters' exact output bytes: heatmap shell preserved
    // down the region/time path, map filtered to the requested
    // frequency+season, legacy layout returned verbatim
    "av03_filtered_reads" ->
      """SELECT * FROM (VALUES
           ('heatmap_filtered', '{"od550aer":{"AERONET":{"Column":{"model":{"od550aer":{"Europe":{"2024":{"nmb":0.1}}}}}}}}'),
           ('map_filtered', '[{"station_name":"s","latitude":0.0,"longitude":0.0,"Monthly":{"DJF":{"nmb":1.0}}}]'),
           ('map_legacy_layout', '[{"old": true}]')
         ) AS t(op, result) ORDER BY op""",
    // bulk import: all 11 fixture assets land (version kwargs are the
    // json layout's physical detail — the table backend lists logical
    // uris), n_imported = 11 on every row
    "av04_bulk_import" ->
      """SELECT * FROM (VALUES
           ('/v0/config/project/experiment'),
           ('/v0/config/project/experiment-old'),
           ('/v0/experiments/project'),
           ('/v0/heatmap/project/experiment/daily'),
           ('/v0/map/project/experiment-old/AERONET/od550aer/Column/model/od550aer'),
           ('/v0/map/project/experiment/AERONET/od550aer/Column/model/od550aer?time=2024'),
           ('/v0/menu/project/experiment'),
           ('/v0/model_style/project'),
           ('/v0/ranges/project/experiment'),
           ('/v0/report/project/experiment/summary'),
           ('/v0/ts/project/experiment/loc/AERONET/od550aer/Column')
         ) AS t(uri) CROSS JOIN (SELECT CAST(11 AS BIGINT) AS n_imported) ORDER BY uri""",
    // refresh incrementality: 11 initial assets, EXACTLY 2 files
    // re-parsed (the added + the same-size-mtime-touched one), net
    // count unchanged (one added, one deleted), refresh ≡ re-ingest
    "av05_catalog_refresh" ->
      """SELECT * FROM (VALUES
           ('a_initial_assets', CAST(11 AS BIGINT)),
           ('b_files_reparsed_on_refresh', CAST(2 AS BIGINT)),
           ('c_refreshed_assets', CAST(11 AS BIGINT)),
           ('d_added_asset_present', CAST(1 AS BIGINT)),
           ('e_deleted_asset_gone', CAST(1 AS BIGINT)),
           ('f_refresh_equals_reingest', CAST(1 AS BIGINT))
         ) AS t(op, value) ORDER BY op""",
    // the three planted divergences, exactly (sorted logical uris:
    // index 0 overwritten in the replica, 1 deleted from it, 2
    // removed from the source so the replica's copy reads as added)
    "av06_store_drift" ->
      """SELECT * FROM (VALUES
           ('/v0/config/project/experiment', 'changed'),
           ('/v0/config/project/experiment-old', 'deleted'),
           ('/v0/experiments/project', 'added')
         ) AS t(uri, change_type) ORDER BY uri""",
    // the time-travel read matrix: at the marker e1 reads gen 1 and
    // e2 exists; currently e1 reads gen 2 and e2 is deleted while e3
    // arrived (2 assets both ways: {e1,e2} then {e1,e3})
    "av07_time_travel" ->
      """SELECT * FROM (VALUES
           ('asof_e1', '{"gen": 1}'),
           ('asof_e2_present', 'true'),
           ('asof_n_assets', '2'),
           ('current_e1', '{"gen": 2}'),
           ('current_e2_present', 'false'),
           ('current_n_assets', '2')
         ) AS t(op, value) ORDER BY op""",
    // retention vacuum: marker reads (e1=gen2, e2 deleted, 2 assets)
    // and current reads (e1=gen4) identical before/after the vacuum,
    // log strictly smaller
    "av09_retention_vacuum" ->
      """SELECT * FROM (VALUES
           ('a_asof_e1', '{"gen": 2}'),
           ('b_asof_e2_present', 'false'),
           ('c_asof_n_assets', '2'),
           ('d_current_e1', '{"gen": 4}'),
           ('e_current_n_assets', '2'),
           ('f_reads_unchanged_by_vacuum', 'true'),
           ('g_log_shrunk', 'true')
         ) AS t(op, value) ORDER BY op""",
  )
}

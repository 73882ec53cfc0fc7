package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core.{ParquetRows, QueryEntry, Route}
import graft.store.JsonFileStore

/** Spark-native asset catalog: distributed ingest of a JsonFileStore
  * file tree into a catalog DataFrame, and `query()` as a DataFrame
  * filter.
  *
  * The reference reverse-parses paths on every `query()` call
  * (`jsonfiledb.py:711-763`); here the reverse parse happens ONCE at
  * ingest — executors list+parse in parallel — and every subsequent
  * query is a Catalyst-optimized filter over the materialized catalog.
  * At 100 TB / millions of assets this is the difference between a
  * filesystem walk per query and a parquet-backed metadata table with
  * partition pruning on (project, experiment).
  */
object Catalog {

  val schema: Seq[String] = Seq("uri", "route", "project", "experiment",
    "frequency", "obsvar", "model", "timestep", "location", "network",
    "layer", "modvar", "time", "region", "title", "path", "source",
    "variable", "date", "mtime_ms", "size_bytes", "src_path")

  /** Tree listing WITHOUT parsing: (src_path, mtime_ms, size_bytes).
    * binaryFile gives path/mtime/size; the unread `content` column is
    * pruned, so no file bytes move.
    *
    * The `path` column is a Hadoop `Path.toString` — the DECODED form,
    * not an RFC URI — so it must be parsed back with Hadoop's own
    * `Path` (which round-trips its string form exactly), never
    * `java.net.URI`: a raw space throws there, and a filename's
    * literal `%41` (which the store's ArgCodec can emit) would either
    * throw or double-decode to `A`, silently detaching the catalog row
    * from its file. */
  def listing(spark: SparkSession, basedir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*")
      .option("recursiveFileLookup", "true")
      .load(basedir)
      .select(col("path"), col("modificationTime"), col("length"))
      .as[(String, java.sql.Timestamp, Long)]
      .map { case (rawPath, mtime, size) =>
        (new org.apache.hadoop.fs.Path(rawPath).toUri.getPath,
          mtime.getTime, size)
      }
      .toDF("src_path", "mtime_ms", "size_bytes")
  }

  /** Reverse-parse a listing subset into catalog rows. `parseCounter`
    * (if supplied) counts files actually examined — the refresh test
    * asserts it equals the number of changed files. */
  private def parse(spark: SparkSession, basedir: String, files: DataFrame,
                    parseCounter: Option[LongAccumulator]): DataFrame = {
    import spark.implicits._
    val base = basedir
    files.select("src_path", "mtime_ms", "size_bytes")
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // one store handle per partition: memoizes version lookups
        // (config reads) across the partition's files, like the
        // reference's alru_cache
        val store = new JsonFileStore(base)
        it.flatMap { case (path, mtimeMs, size) =>
          parseCounter.foreach(_.add(1))
          val p = java.nio.file.Paths.get(path)
          store.queryEntryForFile(p).map { e =>
            (e.uri, e.route.name,
              e.meta.get("project"), e.meta.get("experiment"),
              e.meta.get("frequency"), e.meta.get("obsvar"), e.meta.get("model"),
              e.meta.get("timestep"), e.meta.get("location"), e.meta.get("network"),
              e.meta.get("layer"), e.meta.get("modvar"), e.meta.get("time"),
              e.meta.get("region"), e.meta.get("title"), e.meta.get("path"),
              e.meta.get("source"), e.meta.get("variable"), e.meta.get("date"),
              mtimeMs, size, path)
          }
        }
      }.toDF(schema: _*)
  }

  /** Distributed catalog build: Spark lists the tree, then executors
    * reverse-parse each path with the same codec the point API uses. */
  def ingest(spark: SparkSession, basedir: String,
             parseCounter: Option[LongAccumulator] = None): DataFrame =
    parse(spark, basedir, listing(spark, basedir), parseCounter)

  /** `query()` over an ingested catalog: route-set membership + exact
    * key equality — all pushdown-friendly. */
  def query(catalog: DataFrame, assetTypes: Seq[Route] = Route.all,
            kwargs: Map[String, String] = Map.empty): DataFrame = {
    val routePred = col("route").isin(assetTypes.map(_.name): _*)
    kwargs.foldLeft(catalog.filter(routePred)) { case (df, (k, v)) =>
      df.filter(col(k) === v)
    }
  }

  /** Distributed (uri, content md5) scan of a json store: Spark lists
    * the tree ([[listing]]), then executors reverse-parse each path
    * with a per-partition store handle and hash its content — the
    * canonical-JSON form for JSON routes ([[graft.filters.JsonUtil
    * .contentMd5]], so backend formatting differences are invisible;
    * the raw text of a document that does not parse), raw bytes for
    * blob routes. URIs are version-stripped
    * to the logical identity. No file content ever reaches the
    * driver — at millions of assets this is one distributed pass,
    * shuffle-free. */
  def contentHashes(spark: SparkSession, basedir: String): DataFrame = {
    import spark.implicits._
    import graft.filters.JsonUtil
    val base = basedir
    listing(spark, basedir).select("src_path").as[String]
      .mapPartitions { it =>
        val store = new JsonFileStore(base)
        it.flatMap { path =>
          val p = java.nio.file.Paths.get(path)
          store.queryEntryForFile(p).map { e =>
            val digest =
              if (Route.blobRoutes.contains(e.route))
                JsonUtil.md5hex(java.nio.file.Files.readAllBytes(p))
              else JsonUtil.contentMd5(java.nio.file.Files.readString(p))
            (e.uri.takeWhile(_ != '?'), digest)
          }
        }
      }.toDF("uri", "content_md5")
  }

  /** Persist a catalog as a partitioned parquet metadata table —
    * subsequent sessions `load` it instead of re-walking the tree, and
    * (project, experiment) queries prune to one partition subtree. */
  def persist(catalog: DataFrame, path: String): Unit =
    catalog.write.mode("overwrite").partitionBy("project").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    ParquetRows.frame(spark, path)

  /** Incremental refresh: keep prior entries whose file mtime/size are
    * unchanged, re-parse only new or modified files, drop deleted ones.
    * The fresh tree is LISTED only (path/mtime/size — no content read,
    * no reverse parse); the anti-join against `prior` finds the changed
    * subset and only that subset is parsed, so at millions of assets a
    * refresh touches exactly the changed paths. */
  def refresh(spark: SparkSession, prior: DataFrame, basedir: String,
              parseCounter: Option[LongAccumulator] = None): DataFrame = {
    val ls = listing(spark, basedir)
    val keyCols = Seq("src_path", "mtime_ms", "size_bytes")
    val unchanged = prior.join(ls, keyCols, "left_semi")
    val changedFiles = ls.join(prior.select(keyCols.map(col): _*), keyCols, "left_anti")
    // a using-column semi join moves the join keys to the front; restore
    // the canonical column order so refresh output is positionally
    // interchangeable with ingest output (union/except safe)
    unchanged.unionByName(parse(spark, basedir, changedFiles, parseCounter))
      .select(schema.map(col): _*)
  }

  /** Collect a catalog DataFrame back to QueryEntry values. */
  def entries(df: DataFrame): Seq[QueryEntry] =
    df.collect().toSeq.map { r =>
      val meta = Catalog.schema
        .filterNot(Seq("uri", "route", "mtime_ms", "size_bytes", "src_path").contains)
        .flatMap(k => Option(r.getAs[String](k)).map(k -> _)).toMap
      QueryEntry(r.getAs[String]("uri"), Route.fromName(r.getAs[String]("route")), meta)
    }
}

package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table readers over the harness fixtures (TESTDATA.md).
  *
  * Models the reference's sources (SURVEY.md §2 SRC1/SRC2): every read is a
  * lazy, partitioned, column-pruned parquet scan — the Spark-native analog of
  * the reference's chunked-lazy NetCDF open
  * (reference scripts/process_climate_amazon_monthly.py:189-241) and
  * shapefile load (:137). Laziness/pushdown/pruning come from Catalyst; no
  * custom scan machinery is needed or wanted.
  *
  * Schemas are cached. `spark.read.parquet` without a schema runs one
  * footer-reading job per call, at DataFrame construction — per table,
  * per query, per pass. `table` instead reads with an explicit schema,
  * inferred once per key and kept in a JVM-wide map:
  *
  *   key = path + the recursive file listing (path, length, mtime of every
  *         file) + the session's values of the confs that change the
  *         inferred schema (`SchemaConfs`, incl. the nanosAsLong flag set
  *         below).
  *
  * The first read of a path infers exactly as before; a rewritten table
  * (new file set, length or mtime) or a changed conf misses and infers
  * again. One entry per path, so the map stays as small as the fixture
  * set. The listing is a driver-side metadata call — no job, and no
  * subprocess (see `schemaOf`).
  */
object Tables {
  /** Session confs that change what parquet schema inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]()

  /** The parquet schema of `path`, inferred on the first read of each
    * listing + conf key (see the object doc).
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // getFileStatus/listStatus, not listFiles: listFiles builds a
    // LocatedFileStatus, whose permission lookup on the local file system
    // forks an `ls` process per file when native Hadoop is absent.
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq(st)
    val listing = leaves(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toVector.sortBy(_._1)
    val key = SchemaConfs.map(spark.conf.getOption) ++ listing
    val hit = schemas.get(path)
    if (hit != null && hit._1 == key) hit._2
    else {
      val inferred = spark.read.parquet(path).schema
      schemas.put(path, (key, inferred))
      inferred
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet is TIMESTAMP(NANOS); without this flag Spark 4 fails
    // the read at analysis time ([PARQUET_TYPE_ILLEGAL]). Harmless for the
    // other tables (no nanos columns anywhere else).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // UTC pin lives HERE, not only in the entrypoints' builders: the
    // eventsRaw NTZ→timestamp cast is value-preserving only under UTC,
    // and the external driver's session (plus any embedding application)
    // doesn't run our builders. Every graft read funnels through this
    // method, so the pin really is engine-wide.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Constraint propagation OFF, engine-wide: InferFiltersFromConstraints
    // alias-expands derived columns when it manufactures isnotnull()
    // predicates, inlining entire expression pipelines (e.g. the shingle
    // hash -> distinct -> sort chain) into scan-side filters — which both
    // re-executes the pipeline inside the filter and makes structurally
    // identical subtrees non-identical, killing AQE exchange reuse.
    // Measured at sf0.1: ngram_jaccard_pairs 34 s -> 1.3 s, embed_near_dup
    // 2.3 s -> 0.8 s, no query slower. Every graft query carries its null
    // filters explicitly, so the inference buys nothing here.
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    // Same disease, different rule, NOT governed by the conf above:
    // InferFiltersFromGenerate manufactures `size(arr) > 0` under every
    // explode and alias-expands `arr` through projects AND exchanges into
    // the scan filter. For explode(shingle-hashes) the inlined filter
    // re-evaluates the md5 word-hash transform inside every element_at —
    // O(words²) md5 per document: repetition_score/decontaminate measured
    // 32 s vs ~1 s at sf0.1. The engine's generators never produce empty
    // arrays it needs guarding from (docWords filters size >= 3).
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** events.parquet has shipped in two encodings across harness rounds:
    * TIMESTAMP(NANOS) (which Spark 4 rejects at analysis time,
    * [PARQUET_TYPE_ILLEGAL] — the nanosAsLong flag surfaces it as LONG ns)
    * and plain TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark 4
    * reads as TIMESTAMP_NTZ). Normalize BOTH to a µs TimestampType:
    * schema-sniff the one column (footer metadata, zero jobs) and rebuild.
    * The session timezone is pinned to UTC engine-wide, so the NTZ→LTZ
    * cast is value-preserving and DuckDB's naive epoch_us agrees with
    * Spark's unix_micros on the same file. The cast is a codegen'd
    * scalar; pushdown on the other columns is unaffected.
    */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      // Integer division, NOT `/` (double division can be off by 1 µs at
      // 1.7e18-ns magnitudes — DuckDB's epoch_us truncates exactly).
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

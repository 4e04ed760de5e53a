package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table loader for the driver's synthetic parquet (TESTDATA.md). */
object Tables {

  /** Sessions must set `spark.sql.legacy.parquet.nanosAsLong=true`
    * (Spark's vectorized reader has no TIMESTAMP(NANOS) type — the
    * `events.ts` column is one). [[Sessions.builder]] sets it. The read
    * is schema-carrying ([[readParquet]]). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalize(readParquet(spark, s"$sfDir/$name.parquet"))

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * file's footer gives the schema inference would
    * ([[graft.pipeline.BatchPipeline.footerScanSchema]]); a directory
    * infers. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    graft.pipeline.BatchPipeline.footerScanSchema(spark, Seq(path))
      .fold(spark.read)(spark.read.schema).parquet(path)

  /** Overwrite `path` with `df` and read it back without an inference
    * job — the mirror of [[readParquet]] for a store the code writes:
    * Spark keeps the written schema in the footer and a file scan
    * reads every field nullable, so `df.schema` made nullable is the
    * schema inference would give. */
  def writeParquet(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read
      .schema(GraftSqlBridge.asNullable(df.schema))
      .parquet(path)
  }

  /** Cache + eagerly materialize a (small) intermediate frame. Lazy
    * caches that feed multiple branches of ONE job cause a computation
    * storm: every branch races to fill the cache and tasks serialize on
    * the block locks (measured 8x slowdowns on the LSH pair queries).
    * An eager count fills the cache once, up front. */
  def materialize(df: DataFrame): DataFrame = materializeCounted(df)._1

  /** [[materialize]], returning the eager count's value with the frame
    * (a second `count()` on the cached frame is one more job). */
  def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val scratchUris =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (org.apache.hadoop.conf.Configuration, String)]()
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { root =>
        try {
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Exception => () }
      }
      scratchUris.forEach { case (conf, uri) =>
        try {
          val p = new org.apache.hadoop.fs.Path(uri)
          p.getFileSystem(conf).delete(p, true)
          ()
        } catch { case _: Exception => () }
      }
    }, "graft-scratch-cleanup"))
  }

  /** Scratch directory for gate queries that persist an index/model
    * to parquet and read it back (the persisted-store lifecycle gates
    * and the [[graft.queries]] shared-frame tier).
    *
    * Location is governed by `spark.graft.scratch.uri` (read from the
    * active/default session, runtime-settable): when set, each call
    * carves a unique child under that URI via the Hadoop FileSystem
    * API — ANY scheme executors can reach (hdfs://, s3a://, a mounted
    * shared FS), which is what a multi-executor cluster deployment
    * sets. When unset (the local[32] default), a driver-local temp
    * dir — correct on a single node where executors share the
    * driver's disk. Either way the path registers for recursive
    * deletion at JVM exit, so repeated Verify/Bench runs don't leak
    * storage. */
  def scratchDir(prefix: String): String = {
    scratchHook
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val baseUri = session.flatMap(s =>
      s.conf.getOption("spark.graft.scratch.uri").filter(_.nonEmpty))
    baseUri match {
      case Some(base) =>
        val conf = session.get.sparkContext.hadoopConfiguration
        val child = new org.apache.hadoop.fs.Path(base,
          s"$prefix-${java.util.UUID.randomUUID().toString.take(12)}")
        child.getFileSystem(conf).mkdirs(child)
        scratchUris.add((conf, child.toString))
        child.toString
      case None =>
        val p = java.nio.file.Files.createTempDirectory(prefix)
        scratchDirs.add(p)
        p.toString
    }
  }

  /** Normalize every physical timestamp encoding a parquet writer may
    * emit to ONE engine-facing type: TimestampType (session-local,
    * pinned UTC by [[Sessions.builder]]).
    *
    * Writers disagree on the physical annotation — pandas/pyarrow and
    * DuckDB default to `timestamp[us]` WITHOUT a timezone (surfaced by
    * Spark as TIMESTAMP_NTZ), older pyarrow wrote `timestamp[ns]`
    * (surfaced as nanos-as-long under the legacy flag), and
    * Spark-written lakes carry UTC-adjusted TIMESTAMP. A 100 TB lake
    * mixes all three; the reference tolerates them implicitly because
    * pyarrow hands Beam whatever it read (`M/main_batch.py:91-95`).
    * This is the single seam where that tolerance lives — batch and
    * streaming frames alike pass through here.
    *
    *  - nanos-as-long (`spark.sql.legacy.parquet.nanosAsLong=true`):
    *    truncate ns -> us, matching DuckDB's read of the same file.
    *  - TIMESTAMP_NTZ: cast to TIMESTAMP. Under the UTC session the
    *    cast is a wall-clock identity (no instant shifting), and it
    *    restores `unix_micros`/watermark eligibility.
    *
    * [[Sessions.builder]] additionally sets
    * `spark.sql.parquet.inferTimestampNTZ=false`, so batch scans
    * through [[apply]] never surface NTZ in the first place; the cast
    * here is the backstop for frames built from explicit schemas
    * (streaming sources, callers outside [[apply]]). */
  def normalize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.name == "ts" && f.dataType == LongType =>
        d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case (d, f) if f.dataType == TimestampNTZType =>
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      case (d, _) => d
    }
}

/** Shared session tuning for entry points and tests. */
object Sessions {
  /** AQE small-partition coalescing policy
    * (`spark.sql.adaptive.coalescePartitions.parallelismFirst`):
    * `true` (the Spark default) coalesces post-shuffle partitions
    * only down to the cluster's parallelism; `false` sizes them by
    * `advisoryPartitionSizeInBytes` regardless of slot count. The
    * r19 A/B measured `false` worse (1057 vs 543 CPU-s on the 10-gate
    * heavy subset at local[32], OPTIMIZATION_r19.md §1), so the Spark
    * default stays. */
  val AqeParallelismFirst = "true"

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // native engine extensions (custom codegen'd expressions);
      // applied at session CREATION — getOrCreate on an existing
      // session keeps the registry it was created with
      .withExtensions(graft.functions.VecKernels.register)
      .withExtensions(graft.functions.TextNorm.register)
      .withExtensions(graft.functions.ZOrder.register)
      .withExtensions(graft.ext.Bloom.register)
      .withExtensions(graft.functions.HllAgg.register)
      .withExtensions(graft.functions.NgramGen.register)
      .withExtensions(graft.functions.RingHash.register)
      // whole-operator rung: logical-plan rewrite rules
      .withExtensions(graft.plans.BinRangeJoin.register)
      .withExtensions(graft.plans.MvRewrite.register)
      // whole-operator rung, physical: strategy for the native
      // as-of-join SparkPlan
      .withExtensions(graft.plans.AsOfJoinNative.register)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Non-ANSI: engine cast semantics are null-on-failure
      // (reference drops unparseable fields, `M/main.py:227-240`).
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Timestamp-without-timezone parquet columns (pandas/pyarrow and
      // DuckDB's default physical encoding) read as plain TIMESTAMP,
      // not TIMESTAMP_NTZ — the engine normalizes every physical
      // encoding to one type at the load seam ([[Tables.normalize]]),
      // and pinning the flag here means a Spark default flip can't
      // change what scans surface. NTZ frames arriving from explicit
      // schemas still normalize via the cast in [[Tables.normalize]].
      .config("spark.sql.parquet.inferTimestampNTZ", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        AqeParallelismFirst)
      // Generated methods HotSpot won't JIT (-XX:-DontCompileHugeMethods
      // default refuses >8000 bytecodes) run INTERPRETED forever —
      // diagnosed as rare 30-50x single-task CPU wedges on the LSH
      // queries (150 s of CPU in one final-stage task, zero GC/steal).
      // Capping codegen at the JIT-compilable size makes Spark fall
      // back to the volcano iterator for oversized methods: bounded,
      // predictable cost instead of an interpreter cliff.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false")
      // bucketed-table specs/demos write here, never into the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")

  /** One-time JVM warm-up. Spark 4's collation-aware string functions
    * lazily class-init `CollationAwareUTF8String`, whose static block
    * walks ICU case mappings — measured at 30-100s on first
    * `upper()`/`lower()` constant-fold. Trigger it (plus codegen and a
    * tiny shuffle) up front so the cost never lands inside a measured
    * or driver-gated query. */
  def warm(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(2)
      .select(upper(concat(lit("a"), col("id"))).as("u"),
        lower(concat(lit("B"), col("id"))).as("l"))
      .groupBy(col("u")).agg(count(col("l")))
      .collect()
    ()
  }
}

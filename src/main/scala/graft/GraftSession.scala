package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Central SparkSession factory so every entry point (Verify, Bench, tests)
  * gets identical, scale-minded settings.
  *
  * Settings rationale (local[32] single-JVM harness, but written for a real
  * cluster):
  *  - shuffle.partitions matches local cores (not the 200 default) — on a
  *    real cluster AQE coalesces post-shuffle partitions anyway.
  *  - AQE on: runtime re-planning (skew-join splitting, partition
  *    coalescing, broadcast-join demotion/promotion) is the 100 TB story.
  *  - session timezone pinned UTC so timestamp semantics agree with the
  *    DuckDB oracle.
  *  - the generated-class cache holds the whole catalog's classes, so
  *    warm runs reuse their compiled code ([[CodegenCacheEntries]]).
  *  - whole-stage classes are named without their codegen stage id. The
  *    cache is keyed on the generated source, and under AQE a stage's id
  *    follows the order in which its sibling stages finish, so the same
  *    pipeline can come out as `...CodegenStage9` in one run and
  *    `...CodegenStage10` in the next and miss the cache (most of the
  *    warm-round recompiles CodegenCacheSpec measured for q224 and
  *    q239). The id stays in the source as a comment, which is not part
  *    of the key, and in the plan's `*(n)` markers.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100).
    *
    * The cache is JVM-wide and static: `CodeGenerator` sizes it once,
    * when the JVM first generates code, from the then-active session's
    * static conf. So it is set here, before the first codegen, for every
    * entry point (Bench, Verify, Measure, perfbench), and the test
    * session takes the same value; a runtime `spark.conf.set` would be
    * ignored.
    *
    * It is keyed on the generated source (and class loader). It caches
    * compiled classes, never data or results, so nothing is reused
    * across inputs: a warm run of the same plan skips the Janino compile.
    *
    * Sizing: one whole-catalog `graft.Verify` pass at sf0.01 with the
    * cache unbounded compiles 5,192 distinct classes (4 cores), more than
    * the 4000 first probed; 6000 keeps that whole working set resident
    * with about 15% headroom. At 100 the cache thrashed: every warm
    * perfbench curation pass recompiled about 310 classes (4 s of a 10 s
    * pass).
    *
    * Heap: about 35 KB per resident entry, measured on perfbench curation
    * (4 cores, 10 seeds): `live_heap_mb` median 96.4 → 103.8 MB, for
    * about 220 more resident classes (a pass generates about 320; the
    * default kept 100). A full cache of 6000 entries is thus about
    * 210 MB of JVM heap; a run holds only the classes its queries
    * generate (a whole-catalog Verify about 180 MB).
    */
  val CodegenCacheEntries: Int = 6000

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter pushdown: large-join probe sides get a bloom
      // built from the build side's join keys injected below their scan —
      // at 100 TB this prunes shuffle input for selective fact⋈fact joins
      // without any query change
      .config("spark.sql.optimizer.runtimeFilter.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      // events.ts is parquet TIMESTAMP(NANOS) which Spark cannot represent;
      // read it as Long nanos-since-epoch (Tables.eventsTs converts).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)
      .config(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key, "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

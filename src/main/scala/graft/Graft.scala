package graft

import org.apache.spark.sql.SparkSession

/** Public entrypoint: the one-stop session factory a library user calls
  * to get a SparkSession with everything graft provides wired in —
  * native Catalyst expressions SQL-registered (`html_to_text`,
  * `simhash16`, `minhash_sig`, `dot_product`, `cosine_sim`, `bloom_agg`,
  * `bloom_contains`), the optimizer rules that know their algebraic
  * identities, the as-of join planning rule and strategy, and the
  * scale-sensible defaults every query in this library assumes.
  *
  * On a real cluster, call `configure(builder)` on your own builder (the
  * master/deploy settings come from spark-submit); `localSession(n)` is
  * the single-JVM form the CLI mains and tests use.
  */
object Graft {

  /** Apply graft's extensions and recommended confs to any builder.
    *
    * It turns `spark.sql.artifact.isolation.enabled` off. Spark's
    * codegen cache is keyed on (class loader, code), and an isolated
    * session runs its tasks under a class loader of its own, so every
    * streaming query (which runs on a cloned session) and every
    * `newSession()` would recompile code already in the cache. graft
    * adds no session artifacts, so with isolation off a steady-state
    * ingest day compiles nothing new. Applications that do add
    * per-session jars can set it back on their builder after this call.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.withExtensions(new graft.functions.GraftExtensions)
      // AQE re-plans at runtime from real sizes: coalesces shuffle
      // partitions, switches to broadcast when a side turns out small,
      // and splits skewed join partitions — all assumptions this
      // library's operators are written against.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // UTC everywhere: timestamp arithmetic must not depend on the
      // driver host's zone.
      .config("spark.sql.session.timeZone", "UTC")
      // INT64 TIMESTAMP_MICROS instead of Spark's legacy INT96: the
      // spec-blessed (and smaller) encoding, identical values on read
      // (Spark timestamps ARE micros), and — unlike INT96, which
      // carries no usable column statistics — its footers hold exact
      // INT64 min/max, so the snapshot/zone-map writers' footer-stats
      // fast path covers timestamp-carrying schemas instead of paying
      // a full read-back scan per commit.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // one codegen cache for the whole application (see above): the
      // dead per-session loaders' entries would also crowd live plans
      // out of the 100-entry cache
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Local single-JVM session (tests, CLI mains, dev loops): shuffle
    * width = core count, because the 200-partition default is sized for
    * a cluster and turns every local shuffle into mostly-empty tasks.
    * The CLI mains (Bench/Verify/RunOne/ProfileQuery/ScaleStress) all
    * route through here so a conf added to [[configure]] reaches the
    * whole harness; `extraConfs` carries per-main settings (e.g. the
    * bench's small maxPartitionBytes that splits single-file local
    * tables across every core).
    */
  def localSession(cores: Int, appName: String = "graft",
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val base = configure(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
    val spark = extraConfs
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

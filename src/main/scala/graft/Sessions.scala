package graft
import org.apache.spark.sql.SparkSession

/** The ONE SparkSession builder every entrypoint (Bench, Verify, the
  * test harness) goes through, so the scale-critical execution
  * posture is pinned in one place and asserted by PlanShapeSpec — a
  * config drift in a future entrypoint can't silently change the
  * execution model the plan audits were graded under.
  *
  * The posture, stated explicitly rather than inherited from
  * defaults:
  *  - AQE ON: runtime re-planning (coalesce, join-strategy switch) is
  *    part of every 100x scale claim in PLANS.md;
  *  - skew-join splitting ON: the skewed-key paths (j_asof_skewed
  *    family, band joins, blocking keys) rely on AQE splitting a hot
  *    partition — with it off, one hot key serializes into one task;
  *  - shuffle.partitions = cores (local envelope; a cluster deploy
  *    raises it with the executor count — AQE coalesces the excess);
  *  - UTC session zone: the events-loader contract (Tables.events
  *    asserts it loudly);
  *  - generated-class cache of 1000 entries (Spark's default is
  *    100), so a query shape's classes stay compiled: one `gate_batch`
  *    rep of five gates generates about 223 distinct classes, and a
  *    Data-API workload about 360 including its ingest, so at 100
  *    every evaluation evicted the classes the next one needed and
  *    Janino compiled them again (489 compiles in 8.6 s of a 22.3 s
  *    timed gate phase).
  *    A new source still compiles twice in local mode: Spark 4.1.2
  *    keys the cache by (thread context class loader, source), and
  *    the first task thread carries the executor's class loader, so
  *    a new shape compiles once when the driver plans it (`toRdd`)
  *    and once more at its first action; a repeat, or a new DataFrame
  *    of the same shape, compiles nothing.
  *    The cache only decides whether identical generated source is
  *    compiled again, so results cannot change. It is JVM-global and
  *    sized once, from the active session's conf, when code is first
  *    generated: a JVM that generates code before this builder runs
  *    keeps that earlier size. `SPARK_GRAFT_CONF` can still override
  *    it for an A/B run.
  */
object Sessions {
  def build(cpus: String, appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // exchange reuse is Spark's default; pinned explicitly because
      // multi-consumer plans over table reads (the cumsum fan-out
      // gates) count on one materialization per identical exchange
      // for their cost claims in PLANS.md. Under AQE (Spark 4.1.2)
      // it never fires above a persisted memo, likely because the
      // cached-table query stage keeps its id in the canonical form
      // of every exchange over it: consumers of a shared signature
      // cache share the memo, not the exchanges above it
      .config("spark.sql.exchange.reuse", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
    // Deploy-specific overrides (r16): SPARK_GRAFT_CONF carries
    // semicolon-separated k=v pairs so a cluster deployment (or an
    // A/B measurement) can adjust scale-dependent knobs — advisory
    // partition sizes, codecs, broadcast thresholds — WITHOUT a code
    // edit. Since r17 (ADVICE): keys that would override the pinned
    // SEMANTIC posture above (AQE/skew-join/exchange-reuse/timezone/
    // ansi — the execution model every plan audit and oracle digest
    // was graded under) are REJECTED loudly instead of silently
    // applied, and every accepted override is logged so an A/B run's
    // config divergence is visible in its captured output.
    val pinnedPosture = Set(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.exchange.reuse",
      "spark.sql.session.timeZone",
      "spark.sql.ansi.enabled")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty =>
          if (pinnedPosture(k.trim))
            System.err.println(
              s"graft: REJECTED SPARK_GRAFT_CONF override of pinned " +
                s"posture key '${k.trim}' (semantics-affecting; edit " +
                "Sessions.build deliberately instead)")
          else {
            System.err.println(
              s"graft: SPARK_GRAFT_CONF override ${k.trim}=${v.trim}")
            b.config(k.trim, v.trim)
          }
        case _ => ()
      }
    })
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // custom physical operators (RangeScan, TopKPerKey) are planned by
    // one session-registered strategy; RangeScan.scan and
    // TopKPerKey.topK also register it for externally-built sessions
    graft.plans.GraftStrategies.register(s)
    s
  }
}

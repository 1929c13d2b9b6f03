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
  *    asserts it loudly).
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
      // several multi-consumer plans (shared signature caches, the
      // cumsum fan-out gates) count on one materialization per
      // identical exchange for their cost claims in PLANS.md
      .config("spark.sql.exchange.reuse", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
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

package graft.util

/** Single source of truth for where self-test fixtures land: relative to
  * the process working directory by default (the repo root for sbt and
  * the driver), overridable for environments with a read-only checkout.
  */
object Fixtures {
  lazy val dir: String =
    sys.env.getOrElse("GRAFT_FIXTURE_DIR", "target/fixtures")

  /** Process-unique run token: two Verify runs at the SAME sf (e.g. a
    * determinism double-run executed concurrently) are separate JVMs,
    * so scoping dump dirs by pid makes their dumps disjoint — the
    * r14-verdict residual the `{{SF_TAG}}` scoping alone left open.
    * Within one JVM the token is constant, so the engine-side dump
    * write and Verify's oracle-side substitution always agree. */
  private lazy val runTag: String = "r" + ProcessHandle.current().pid()

  /** Path-safe tag of an sf data directory, prefixed by [[runTag]].
    * Scopes per-run oracle-side dumps (the a12/mm2-family
    * exact-side-dump pattern) by (process, sf), so concurrent Verify
    * runs — the x10/x100 pair, sf0.01 beside sf0.1, or two runs at the
    * SAME sf — can never clobber each other's dumps between the engine
    * run and the DuckDB compare. The oracle SQL carries the literal
    * `{{SF_TAG}}` placeholder; Verify substitutes this tag when it
    * writes oracle_sql.json, so the driver's DuckDB reads exactly the
    * files the same run's engine query wrote. */
  def sfTag(sfDir: String): String = runTag + "_" + sanitise(sfDir)

  /** Path-safe form of an sf data directory: one path segment. */
  def sanitise(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A Verify gate's own store dir, `<dir>/<tag>/<sanitised sf>`, with
    * any lease a KILLED previous run left on it broken: the fixture
    * owns this dir, where a production store must fail loud instead. */
  def store(spark: org.apache.spark.sql.SparkSession, tag: String,
      sfDir: String): String = {
    val d = s"$dir/$tag/${sanitise(sfDir)}"
    StoreLease.break(spark, d)
    d
  }
}

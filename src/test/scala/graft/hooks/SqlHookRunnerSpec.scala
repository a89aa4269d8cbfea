package graft.hooks

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SqlHookRunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("statement splitting handles dollar-quoted function bodies") {
    // the reference's own functions.sql shape
    val script =
      """CREATE OR REPLACE FUNCTION strip(text) RETURNS TEXT
        |    AS $$ SELECT NULLIF(regexp_replace($1, E'a;b', '', 'g'), '') $$
        |    LANGUAGE SQL;
        |SELECT 1;
        |-- a comment; with a semicolon
        |SELECT 2;""".stripMargin
    val stmts = SqlHookRunner.splitStatements(script)
    assert(stmts.size === 3)
    assert(stmts.head.contains("$$ SELECT NULLIF"))
  }

  test("splitting respects quotes and block comments") {
    val stmts = SqlHookRunner.splitStatements(
      "SELECT 'a;b' /* c;d */ AS x; SELECT \"w;z\" FROM t")
    assert(stmts.size === 2)
  }

  test("splitting handles nested block comments (PG semantics)") {
    // a commented-out function whose body contains its own /* ... */ —
    // the inner */ must not end the outer comment and leak the body as a
    // bogus statement (the reference's functions.sql has this shape)
    val script =
      """/* disabled:
        |CREATE FUNCTION old() RETURNS int AS $$ SELECT 1 /* inner */ $$ LANGUAGE SQL;
        |*/
        |CREATE OR REPLACE FUNCTION live() RETURNS int AS $$ SELECT 2 $$ LANGUAGE SQL;
        |SELECT 3;""".stripMargin
    val stmts = SqlHookRunner.splitStatements(script)
    assert(stmts.size === 2)
    assert(stmts.head.contains("live"))
    assert(SqlHookRunner.classify(stmts.head) === SqlHookRunner.PassThroughLane)
  }

  test("classification strips leading line and block comments") {
    import SqlHookRunner._
    assert(classify("-- install helper\nCREATE FUNCTION f() RETURNS int") === PassThroughLane)
    assert(classify("-- note\n-- more\nSELECT 1") === SparkLane)
    assert(classify("/* a /* nested */ b */ CREATE EXTENSION foo") === PassThroughLane)
    assert(classify("/* c */ -- d\nVACUUM t") === PassThroughLane)
  }

  test("classification: PG-only DDL routes to pass-through") {
    import SqlHookRunner._
    assert(classify("CREATE OR REPLACE FUNCTION f() ...") === PassThroughLane)
    assert(classify("CREATE TABLE x (LIKE y INCLUDING ALL)") === PassThroughLane)
    assert(classify("SELECT * FROM information_schema.columns") === PassThroughLane)
    assert(classify("SELECT count(*) FROM t") === SparkLane)
    assert(classify("DROP TABLE IF EXISTS x") === SparkLane)
    assert(classify("INSERT INTO a SELECT * FROM b") === SparkLane)
  }

  test("spark lane parses the reference's :: cast dialect") {
    // post-load hooks cast text columns with `::` (README.md:102-104);
    // Spark 4 SQL parses this natively so the hook runs in the fast lane
    import SqlHookRunner._
    assert(classify("SELECT height::int FROM animals") === SparkLane)
    Seq(Tuple1("220")).toDF("height").createOrReplaceTempView("cast_input")
    val r = spark.sql("SELECT height::int AS h FROM cast_input").collect().head
    assert(r.getInt(0) === 220)
  }

  test("packaged functions.sql splits into pass-through-lane installs") {
    val stmts = PgFunctions.statements
    assert(stmts.size === 6)
    assert(stmts.forall(SqlHookRunner.classify(_) === SqlHookRunner.PassThroughLane))
    val names = Seq("strip", "has_column", "parse_timezone",
      "parse_timestamp_with_tz", "parse_timestamp", "parse_date")
    names.foreach(n => assert(stmts.exists(_.contains(s"FUNCTION $n(")), s"missing $n"))
  }

  test("wrap_json aggregates any result into one JSON document (A2)") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v").orderBy("id")
    val json = SqlHookRunner.wrapJson(spark, df).collect().head.getString(0)
    assert(json === """[{"id":1,"v":"a"},{"id":2,"v":"b"}]""")
  }

  test("runScript executes spark-lane and routes pass-through") {
    Seq((1, "x")).toDF("id", "v").createOrReplaceTempView("hook_input")
    val script = Files.createTempFile("hook", ".sql")
    Files.write(script,
      """CREATE OR REPLACE FUNCTION pg_only() RETURNS int AS $$ SELECT 1 $$ LANGUAGE SQL;
        |CREATE OR REPLACE TEMP VIEW hook_out AS SELECT id * 2 AS id2 FROM hook_input;
        |SELECT * FROM hook_out;""".stripMargin.getBytes("UTF-8"))
    val passed = scala.collection.mutable.ListBuffer.empty[String]
    val report = SqlHookRunner.runScript(spark, script, passed += _)
    assert(report.sparkRun === 2)
    assert(report.passedThrough === 1)
    assert(report.failed === 0)
    assert(passed.head.startsWith("CREATE OR REPLACE FUNCTION"))
    assert(spark.sql("SELECT id2 FROM hook_out").collect().head.getInt(0) === 2)
  }

  private val scriptConfs = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled")

  private def script(sql: String) = {
    val f = Files.createTempFile("hook", ".sql")
    Files.write(f, sql.getBytes("UTF-8"))
    f
  }

  test("CACHE TABLE in a hook caches on the calling session, not a clone") {
    Seq((1, "x"), (2, "y")).toDF("id", "v").createOrReplaceTempView("cache_src")
    val report = SqlHookRunner.runScript(spark,
      script("CACHE TABLE hook_cached AS SELECT id, v FROM cache_src WHERE id > 1;"))
    assert(report.sparkRun === 1 && report.failed === 0)
    try {
      val cached = spark.sharedState.cacheManager
        .lookupCachedData(spark.table("hook_cached").asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      assert(cached.isDefined)
      assert(cached.get.cachedRepresentation.cacheBuilder.cachedPlan.session eq spark)
      assert(spark.table("hook_cached").collect().map(_.getInt(0)).toSeq === Seq(2))
    } finally spark.catalog.dropTempView("hook_cached")
  }

  test("script confs are scoped to the call: set, unset and failing scripts restore them") {
    val Seq(partitioning, bucketing) = scriptConfs
    def explicit = scriptConfs.map(k => spark.conf.getAll.get(k))
    var during = Seq.empty[Option[String]]
    val observe: String => Unit = _ => during = explicit
    val passThrough = "CREATE EXTENSION observe_confs;\n"
    try {
      // previously set: the prior values come back
      spark.conf.set(partitioning, "false")
      spark.conf.set(bucketing, "true")
      SqlHookRunner.runScript(spark, script(passThrough + "SELECT 1;"), observe)
      assert(during === Seq(Some("true"), Some("false")))
      assert(explicit === Seq(Some("false"), Some("true")))

      // previously unset: unset again, not pinned to the defaults
      scriptConfs.foreach(spark.conf.unset)
      SqlHookRunner.runScript(spark, script(passThrough + "SELECT 1;"), observe)
      assert(during === Seq(Some("true"), Some("false")))
      assert(explicit === Seq(None, None))

      // a failing Spark statement is logged and counted, the confs restored
      val failed = SqlHookRunner.runScript(spark,
        script("SELECT * FROM no_such_hook_table;\n" + passThrough), observe)
      assert(failed.failed === 1)
      assert(explicit === Seq(None, None))

      // a throwing pass-through statement propagates, the confs restored
      assertThrows[IllegalStateException] {
        SqlHookRunner.runScript(spark, script(passThrough),
          _ => throw new IllegalStateException("sink down"))
      }
      assert(explicit === Seq(None, None))
    } finally scriptConfs.foreach(spark.conf.unset)
  }
}

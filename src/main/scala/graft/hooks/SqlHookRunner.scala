package graft.hooks

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** SQL hook execution (SURVEY §2.1 S6 / §3.2): the reference runs arbitrary
  * `*.sql` scripts pre-load and post-load via `psql -f`, plus ad-hoc
  * commands optionally wrapped as one JSON document
  * (`SELECT json_agg(query) FROM (<cmd>) query;`, exec.py:110).
  *
  * Two-lane execution contract (SURVEY §7.4):
  *  - Spark lane: statements Spark SQL can parse/execute (`spark.sql`),
  *    with the graft function library registered so hooks calling
  *    strip()/parse_timestamp()/... run codegen'd;
  *  - pass-through lane: Postgres-only DDL (CREATE FUNCTION,
  *    LIKE INCLUDING ALL, ::casts in DDL, information_schema) is routed to
  *    the JDBC sink when one is configured, else skipped with a warning —
  *    hook scripts remain installable into a real PG alongside Spark.
  *
  * A script runs under two session confs scoped to the call
  * (`ScriptConfs`), so a `CACHE TABLE` hook caches on the calling session
  * rather than on a clone that outlives the load.
  */
object SqlHookRunner {
  private val log = LoggerFactory.getLogger(getClass)

  sealed trait Lane
  case object SparkLane extends Lane
  case object PassThroughLane extends Lane

  final case class Statement(sql: String, lane: Lane)

  /** Recursive *.sql discovery; a single file passes through
    * (reference utils.py:20-26). */
  def discoverScripts(dirOrFile: Path): Seq[Path] =
    if (Files.isRegularFile(dirOrFile)) Seq(dirOrFile)
    else if (Files.isDirectory(dirOrFile))
      Files.walk(dirOrFile).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".sql"))
        .toSeq.sortBy(_.toString)
    else Seq.empty

  /** Split a script into statements on ';' outside quotes/dollar-quotes/
    * comments (enough for the reference's hook corpus incl. functions.sql
    * with $$-quoted bodies). Block comments nest, as in PostgreSQL — a
    * commented-out function body containing its own `/* ... */` must not
    * terminate the outer comment early. */
  def splitStatements(script: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var inSingle = false
    var inDouble = false
    var inDollar = false
    var inLineComment = false
    var blockDepth = 0
    while (i < script.length) {
      val c = script.charAt(i)
      val next2 = script.substring(i, math.min(i + 2, script.length))
      if (inLineComment) { if (c == '\n') inLineComment = false; cur += c; i += 1 }
      else if (blockDepth > 0) {
        if (next2 == "/*") { blockDepth += 1; cur ++= next2; i += 2 }
        else if (next2 == "*/") { blockDepth -= 1; cur ++= next2; i += 2 }
        else { cur += c; i += 1 }
      }
      else if (inSingle) { if (c == '\'') inSingle = false; cur += c; i += 1 }
      else if (inDouble) { if (c == '"') inDouble = false; cur += c; i += 1 }
      else if (inDollar) {
        if (next2 == "$$") { inDollar = false; cur ++= next2; i += 2 }
        else { cur += c; i += 1 }
      }
      else next2 match {
        case "--" => inLineComment = true; cur ++= next2; i += 2
        case "/*" => blockDepth = 1; cur ++= next2; i += 2
        case "$$" => inDollar = true; cur ++= next2; i += 2
        case _ =>
          c match {
            case '\'' => inSingle = true; cur += c; i += 1
            case '"'  => inDouble = true; cur += c; i += 1
            case ';'  => out += cur.toString; cur.clear(); i += 1
            case _    => cur += c; i += 1
          }
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Statements Spark SQL cannot or should not execute (PG-only DDL). */
  private val PassThroughPrefixes = Seq(
    "create or replace function", "create function", "drop function",
    "create extension", "create schema", "alter table", "vacuum",
    "create index", "drop index", "grant", "revoke", "comment on",
    "create trigger", "set ")

  def classify(stmt: String): Lane = {
    // peel leading comments of either kind BEFORE collapsing whitespace —
    // line comments are newline-delimited, so the strip must run while
    // newlines still exist; block comments nest (PG semantics)
    var s = stmt.trim
    var changed = true
    while (changed && s.nonEmpty) {
      changed = false
      if (s.startsWith("--")) {
        val nl = s.indexOf('\n')
        s = if (nl < 0) "" else s.substring(nl + 1).trim
        changed = true
      } else if (s.startsWith("/*")) {
        var depth = 1
        var i = 2
        while (i < s.length && depth > 0) {
          if (s.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (s.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        s = s.substring(math.min(i, s.length)).trim
        changed = true
      }
    }
    val stripped = s.toLowerCase.replaceAll("\\s+", " ")
    if (PassThroughPrefixes.exists(stripped.startsWith)) PassThroughLane
    else if (stripped.contains("(like ") && stripped.startsWith("create table")) PassThroughLane
    else if (stripped.contains("information_schema")) PassThroughLane
    else SparkLane
  }

  /** `wrap_json` rewrite (exec.py:110, A2): any query result → a single
    * JSON-array document. */
  def wrapJson(spark: SparkSession, df: DataFrame): DataFrame =
    df.agg(to_json(collect_list(struct(df.columns.map(col).toIndexedSeq: _*))).as("json_agg"))

  final case class RunReport(sparkRun: Int, passedThrough: Int, failed: Int)

  /** Session confs a script runs under, restored when it returns. With
    * both, `CACHE TABLE` builds its cached plan on the calling session.
    * Otherwise Spark's cache manager clones the session to switch one of
    * them off, and the clone (every temp view, each with its own Hadoop
    * `Configuration`) stays reachable from the AQE pool threads that ran
    * under it until they idle out, so a loader that caches in a hook
    * retains a session per load. The clone would switch auto bucketed
    * scan off for the cached plan anyway; other hook statements over
    * bucketed tables now always scan by bucket. */
  private val ScriptConfs = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  /** Run `body` with `ScriptConfs` set, then put back each key's prior
    * value, or unset it if it was unset. Session confs are shared, so
    * concurrent queries on `spark` see them while `body` runs. */
  private def withScriptConfs[A](spark: SparkSession)(body: => A): A = {
    val set = spark.conf.getAll
    val prior = ScriptConfs.map { case (k, _) => k -> set.get(k) }
    ScriptConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Execute a hook script: Spark-lane statements via spark.sql, pass-
    * through-lane via `passThrough` (a JDBC executor when a PG sink is
    * configured; defaults to warn+skip). Statements run under
    * `ScriptConfs`, scoped to this call. */
  def runScript(
      spark: SparkSession,
      script: Path,
      passThrough: String => Unit = sql =>
        log.warn(s"pass-through statement skipped (no JDBC sink configured): ${sql.take(80)}...")
  ): RunReport = {
    val text = new String(Files.readAllBytes(script), "UTF-8")
    var sparkRun, passed, failed = 0
    withScriptConfs(spark)(splitStatements(text).foreach { stmt =>
      classify(stmt) match {
        case SparkLane =>
          try { spark.sql(stmt).collect(); sparkRun += 1 }
          catch {
            case e: Exception =>
              failed += 1
              log.error(s"hook statement failed: ${e.getMessage.take(200)}")
          }
        case PassThroughLane =>
          passThrough(stmt); passed += 1
      }
    })
    RunReport(sparkRun, passed, failed)
  }
}

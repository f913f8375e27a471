/*
 * DSv2 reader for the dazzleduck Arrow-over-HTTP wire protocol — the
 * engine's only remote reader. `sources.dd_read_arrow`,
 * `dd_read_arrow_agg` and `dd_read_arrow_narrow` build their frames on
 * it; `format("dd_arrow_dsv2")` reaches it directly.
 *
 * Implements SupportsPushDownRequiredColumns, SupportsPushDownFilters
 * and SupportsPushDownAggregates, so a plain .select()/.filter()/.agg()
 * prunes, filters and aggregates server-side through the reference's
 * SQL rewrite templates (src/scanner/read_arrow_dd.cpp:246-296 for
 * projection, src/optimizer/aggregation_pushdown.cpp:247-418 for
 * aggregation). The `agg_select`/`agg_where`/`agg_group_by` options
 * carry a server-dialect aggregate instead (dd_read_arrow_agg): in
 * split mode every split runs it over its slice and Spark merges the
 * partials above the scan.
 *
 * Schema probe, split planning and reads all run in the JVM: no Python
 * worker starts for a remote scan.
 *
 * Packaged under org.apache.spark.sql.* deliberately: the shim reuses
 * Spark's private[sql] ArrowUtils for Arrow->Catalyst schema
 * conversion instead of duplicating the type table.
 *
 * Build: tools/build_shim.sh (bundled scalac, no network). Load:
 * `sources.register(spark)` (runtime ADD JAR), then
 * spark.read.format("dd_arrow_dsv2").option("url", ...).
 */
package org.apache.spark.sql.dazzleduck

import java.io.InputStream
import java.net.{HttpURLConnection, URL, URLEncoder}
import java.util

import scala.collection.JavaConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, FieldReference, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.{ArrowUtils, CaseInsensitiveStringMap}
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnarBatch, ColumnVector}

// ----------------------------------------------------------- wire client

object DdWire {
  /** Attempts per request on a transient failure (HTTP 5xx or a failed
   *  connection). 4xx is a client error and never retried — the
   *  reference's InvalidInput vs IOException split,
   *  arrow_http_client.cpp:82-89. */
  val HttpRetries = 3
  /** Backoff before retry k (0-based) is HttpBackoffMs * 2^k. */
  val HttpBackoffMs = 200L

  class TransientHttpException(msg: String, cause: Throwable = null)
    extends java.io.IOException(msg, cause)

  /** Random positive int63 (read_arrow_dd.cpp:347-351 uses a random
   *  int64 per query). */
  def newQueryId(): Long =
    java.util.concurrent.ThreadLocalRandom.current().nextLong(1L, 1L << 62)

  def queryUrl(base: String, sql: String, qid: Long): String =
    base.stripSuffix("/") + "/v1/query?q=" +
      URLEncoder.encode(sql, "UTF-8") + "&id=" + qid

  /** One GET. 200 -> the body; 5xx or a failed connection ->
   *  TransientHttpException; any other status -> RuntimeException. */
  def open(
      url: String,
      token: String,
      headers: Map[String, String] = Map.empty): InputStream = {
    val conn =
      new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(300000)
    if (token != null && token.nonEmpty) {
      conn.setRequestProperty("Authorization", "Bearer " + token)
    }
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val code =
      try conn.getResponseCode
      catch {
        case e: java.io.IOException =>
          throw new TransientHttpException(
            s"dd_arrow_dsv2: connection to $url failed: $e", e)
      }
    if (code == 200) return conn.getInputStream
    val err = conn.getErrorStream
    val msg =
      if (err == null) "" else new String(err.readAllBytes(), "UTF-8")
    val text = s"dd_arrow_dsv2: HTTP $code from $url: $msg"
    if (code >= 500) throw new TransientHttpException(text)
    throw new RuntimeException(text)
  }

  def backoff(retry: Int): Unit = Thread.sleep(HttpBackoffMs << retry)

  /** Idempotent requests (/v1/plan, the LIMIT-0 probe) retry the same
   *  URL. /v1/query data opens retry in DdColumnarReader instead, with
   *  a fresh query id per attempt. */
  def withRetry[T](body: => T): T = {
    var retry = 0
    while (true) {
      try return body
      catch {
        case _: TransientHttpException if retry + 1 < HttpRetries =>
          backoff(retry)
          retry += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Best-effort GET /v1/cancel (cancel_monitor.cpp semantics:
   *  failures are swallowed — the connection drop is the backstop
   *  lease-based cancel channel). A killed task reaches this with its
   *  thread's interrupt flag set, which makes the request fail at once,
   *  so the flag is cleared for the request and restored after. */
  def cancelQuiet(base: String, qid: Long, token: String): Unit = {
    val interrupted = Thread.interrupted()
    try {
      val conn = new URL(base.stripSuffix("/") + "/v1/cancel?id=" + qid)
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(2000)
      conn.setReadTimeout(2000)
      if (token != null && token.nonEmpty) {
        conn.setRequestProperty("Authorization", "Bearer " + token)
      }
      conn.getResponseCode
      conn.disconnect()
    } catch {
      case _: Exception => ()
    } finally {
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** The raw JSON body of GET /v1/plan (arrow_http_client.cpp:108-167:
   *  q param + x-dd-split-size header). dd_splits reads it through
   *  py4j, so split introspection and scans share one HTTP client. */
  def planJson(
      base: String,
      sql: String,
      splitSize: Long,
      token: String): String = {
    val url = base.stripSuffix("/") + "/v1/plan?q=" +
      URLEncoder.encode(sql, "UTF-8")
    val headers = Map("Accept" -> "application/json") ++
      (if (splitSize > 0) Map("x-dd-split-size" -> splitSize.toString)
       else Map.empty)
    withRetry {
      val in = open(url, token, headers)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
  }

  /** Split planning over `sql`. Returns (endpoints,
   *  splitQuery) pairs carrying EVERY advertised replica endpoint
   *  (split_info.hpp:20-37); the reader load-spreads starts i %% n
   *  and rotates through the rest on failure. */
  def fetchPlan(
      base: String,
      sql: String,
      splitSize: Long,
      token: String): Array[(Array[String], String)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(planJson(base, sql, splitSize, token))
    val out = scala.collection.mutable.ArrayBuffer[(Array[String], String)]()
    root.forEach { entry =>
      val q = entry.path("descriptor").path("statementHandle")
        .path("query").asText("")
      val eps = entry.path("endpoints")
      val arr =
        if (eps.isArray && eps.size() > 0) {
          (0 until eps.size()).map(j => eps.get(j).asText(base)).toArray
        } else Array(base)
      out += ((arr, q))
    }
    if (out.isEmpty) { // 0 splits is a plan error (read_arrow_dd.cpp:453-455)
      throw new RuntimeException("dd_arrow_dsv2: server returned no splits")
    }
    out.toArray
  }

  /** Arrow schema of `sql` via a LIMIT-0 probe: only the schema message
   *  crosses the wire (the reference fetches the whole result at Bind,
   *  read_arrow_dd.cpp:353-378). */
  def probeSchema(base: String, sql: String, token: String): StructType = {
    val schema = withRetry {
      val in = open(queryUrl(base, s"SELECT * FROM ($sql) __dd_p LIMIT 0",
        newQueryId()), token)
      val alloc = new RootAllocator(Long.MaxValue)
      try {
        val reader = new ArrowStreamReader(in, alloc)
        try ArrowUtils.fromArrowSchema(reader.getVectorSchemaRoot.getSchema)
        finally reader.close()
      } finally {
        in.close()
        alloc.close()
      }
    }
    if (schema.fields.isEmpty) { // an error in the reference (:381-383)
      throw new RuntimeException("dd_arrow_dsv2: server returned empty schema")
    }
    schema
  }

  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  def sqlLiteral(v: Any): Option[String] = v match {
    case null => None // comparisons with NULL are never pushable
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case b: Boolean => Some(if (b) "TRUE" else "FALSE")
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    case f: Float =>
      if (f.isNaN || f.isInfinite) None else Some(f.toString)
    case d: Double =>
      if (d.isNaN || d.isInfinite) None else Some(d.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: java.sql.Date => Some(s"DATE '$d'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP '$t'")
    case _ => None
  }

  private def likeEscape(s: String): String =
    s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      .replace("'", "''")

  private def ref(attribute: String): Option[String] = {
    // only top-level columns; a dotted name would be a struct path
    if (attribute.contains(".")) None else Some(quoteIdent(attribute))
  }

  /** v1 Filter -> server SQL predicate; None = not pushable (stays a
   *  post-scan filter — the partial-pushdown contract of FilterToSQL,
   *  read_arrow_dd.cpp:198-238, plus IN, LIKE and boolean
   *  connectives). */
  def filterToSql(f: Filter): Option[String] = f match {
    case EqualTo(a, v) =>
      for (r <- ref(a); l <- sqlLiteral(v)) yield s"$r = $l"
    case EqualNullSafe(a, v) =>
      val lit = sqlLiteral(v)
      ref(a).flatMap { r =>
        if (v == null) Some(s"$r IS NULL")
        else lit.map(l => s"$r IS NOT DISTINCT FROM $l")
      }
    case GreaterThan(a, v) =>
      for (r <- ref(a); l <- sqlLiteral(v)) yield s"$r > $l"
    case GreaterThanOrEqual(a, v) =>
      for (r <- ref(a); l <- sqlLiteral(v)) yield s"$r >= $l"
    case LessThan(a, v) =>
      for (r <- ref(a); l <- sqlLiteral(v)) yield s"$r < $l"
    case LessThanOrEqual(a, v) =>
      for (r <- ref(a); l <- sqlLiteral(v)) yield s"$r <= $l"
    case In(a, vs) =>
      if (vs == null || vs.isEmpty) None
      else {
        val lits = vs.map(sqlLiteral)
        if (lits.exists(_.isEmpty)) None
        else ref(a).map(r => s"$r IN (" + lits.flatten.mkString(", ") + ")")
      }
    case IsNull(a) => ref(a).map(r => s"$r IS NULL")
    case IsNotNull(a) => ref(a).map(r => s"$r IS NOT NULL")
    case StringStartsWith(a, v) =>
      ref(a).map(r => s"$r LIKE '" + likeEscape(v) + "%' ESCAPE '\\'")
    case StringEndsWith(a, v) =>
      ref(a).map(r => s"$r LIKE '%" + likeEscape(v) + "' ESCAPE '\\'")
    case StringContains(a, v) =>
      ref(a).map(r => s"$r LIKE '%" + likeEscape(v) + "%' ESCAPE '\\'")
    case And(l, r) =>
      for (ls <- filterToSql(l); rs <- filterToSql(r))
        yield s"($ls AND $rs)"
    case Or(l, r) =>
      for (ls <- filterToSql(l); rs <- filterToSql(r))
        yield s"($ls OR $rs)"
    case Not(c) => filterToSql(c).map(s => s"(NOT $s)")
    case _ => None
  }
}

/** The reference's aggregation-pushdown rewrite template
 *  (aggregation_pushdown.cpp:247-418) in server dialect, as
 *  dd_read_arrow_agg sends it: `select` is the aggregate list (group
 *  keys first), `where` an optional predicate, `groupBy` the unquoted
 *  key names. Without splits the server computes the final aggregate;
 *  with splits each split computes a partial. */
case class AggTemplate(select: String, where: String, groupBy: Seq[String]) {
  private def whereClause: String =
    if (where == null || where.isEmpty) "" else s" WHERE $where"

  def wrap(rel: String): String = {
    val gb =
      if (groupBy.isEmpty) ""
      else " GROUP BY " + groupBy.map(DdWire.quoteIdent).mkString(", ")
    s"SELECT $select FROM ($rel) AS _subq$whereClause$gb"
  }

  /** The relation splits are planned over: base + WHERE, so a selective
   *  predicate shrinks the split count. wrap() re-applies the WHERE per
   *  split, which is idempotent. */
  def filtered(base: String): String =
    if (whereClause.isEmpty) base
    else s"SELECT * FROM ($base) AS _subq$whereClause"
}

object AggTemplate {
  def fromOptions(opts: CaseInsensitiveStringMap): Option[AggTemplate] =
    Option(opts.get("agg_select")).filter(_.nonEmpty).map { sel =>
      val keys = Option(opts.get("agg_group_by")).filter(_.nonEmpty)
        .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
      AggTemplate(sel, opts.get("agg_where"), keys)
    }
}

// ------------------------------------------------------------ provider

class DdArrowDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "dd_arrow_dsv2"

  private def baseQuery(opts: CaseInsensitiveStringMap): String = {
    val q = opts.get("query")
    val p = opts.get("path")
    if (q != null) q
    else if (p != null) "SELECT * FROM " + p
    else throw new IllegalArgumentException(
      "dd_arrow_dsv2 needs option 'query' or 'path'")
  }

  // With an aggregate template the probe wraps the WHOLE base relation
  // in it: one round trip yields the schema every split partial shares.
  override def inferSchema(opts: CaseInsensitiveStringMap): StructType = {
    val base = baseQuery(opts)
    DdWire.probeSchema(opts.get("url"),
      AggTemplate.fromOptions(opts).fold(base)(_.wrap(base)),
      opts.getOrDefault("token", ""))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new DdTable(schema, opts.get("url"), baseQuery(opts),
      opts.getOrDefault("token", ""),
      opts.getBoolean("split", false),
      opts.getLong("split_size", 0L),
      AggTemplate.fromOptions(opts))
  }

  override def supportsExternalMetadata(): Boolean = true
}

class DdTable(
    tableSchema: StructType,
    url: String,
    base: String,
    token: String,
    split: Boolean,
    splitSize: Long,
    template: Option[AggTemplate]) extends Table with SupportsRead {
  override def name(): String = s"dd_arrow($base)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      opts: CaseInsensitiveStringMap): ScanBuilder =
    new DdScanBuilder(tableSchema, url, base, token, split, splitSize,
      template)
}

// --------------------------------------------------------- scan builder

class DdScanBuilder(
    fullSchema: StructType,
    url: String,
    base: String,
    token: String,
    split: Boolean,
    splitSize: Long,
    template: Option[AggTemplate])
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var whereSql: Seq[String] = Seq.empty
  private var aggSelect: Option[Seq[String]] = None
  private var aggGroupBy: Seq[String] = Seq.empty
  private var aggSchema: Option[StructType] = None
  private var aggInputCols: Seq[String] = Seq.empty

  // ---- filters (partial-pushdown contract: unsupported filters are
  // returned and re-evaluated by Spark above the scan). Under an
  // aggregate template the scan yields aggregate rows — in split mode,
  // partials Spark still has to merge — so nothing is consumed; the
  // template carries its own WHERE.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (template.isDefined) return filters
    val (ok, rest) =
      filters.partition(f => DdWire.filterToSql(f).isDefined)
    pushed = ok
    whereSql = ok.toSeq.flatMap(DdWire.filterToSql)
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  // ---- projection
  // (an aggregate template's output stays whole: it is a few rows)
  override def pruneColumns(requiredSchema: StructType): Unit = {
    if (template.isEmpty) required = requiredSchema
  }

  // ---- aggregation (complete pushdown only: the server computes the
  // final aggregate — the reference's rewrite template. Types are
  // pinned with explicit CASTs to Spark's own aggregate result types,
  // the A5 HUGEINT->DECIMAL discipline: DuckDB's sum(BIGINT) is
  // HUGEINT, which would arrive as decimal128 without the CAST.)
  private def col(e: Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      Some(DdWire.quoteIdent(r.fieldNames()(0)))
    case _ => None
  }

  private def fieldOf(e: Expression): Option[StructField] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      fullSchema.fields.find(_.name == r.fieldNames()(0))
    case _ => None
  }

  private def sparkSumType(in: DataType): Option[DataType] = in match {
    case ByteType | ShortType | IntegerType | LongType => Some(LongType)
    case FloatType | DoubleType => Some(DoubleType)
    case d: DecimalType =>
      // Spark's sum(DECIMAL(p,s)) result type is DECIMAL(min(38,
      // p+10), s); the explicit CAST below makes the server (whose
      // own sum widens to DECIMAL(38,s) via HUGEINT) return exactly
      // that — the A5 type-reconciliation discipline, now covering
      // decimals (round 7; previously excluded)
      Some(DecimalType(math.min(38, d.precision + 10), d.scale))
    case _ => None
  }

  private def translateAgg(
      f: AggregateFunc): Option[(String, DataType)] = f match {
    case _: CountStar => Some(("CAST(count(*) AS BIGINT)", LongType))
    case c: Count if !c.isDistinct =>
      col(c.column).map(r => (s"CAST(count($r) AS BIGINT)", LongType))
    case c: Count =>
      col(c.column).map(r =>
        (s"CAST(count(DISTINCT $r) AS BIGINT)", LongType))
    case m: Min =>
      for (r <- col(m.column); fl <- fieldOf(m.column))
        yield (s"min($r)", fl.dataType)
    case m: Max =>
      for (r <- col(m.column); fl <- fieldOf(m.column))
        yield (s"max($r)", fl.dataType)
    case s: Sum if !s.isDistinct =>
      for {
        r <- col(s.column)
        fl <- fieldOf(s.column)
        out <- sparkSumType(fl.dataType)
      } yield {
        // decimal sums: TRY_CAST, not CAST — Spark's non-ANSI
        // sum(DECIMAL) returns NULL when the widened result type
        // overflows, while DuckDB's CAST raises a query error; the
        // TRY_CAST mirrors Spark's null-on-overflow semantics
        // (advisor finding r7). Integer sums keep the plain CAST:
        // the server's HUGEINT sum fits BIGINT whenever Spark's own
        // long accumulator hasn't already wrapped.
        val cast = out match {
          case _: DecimalType => "TRY_CAST"
          case _ => "CAST"
        }
        (s"$cast(sum($r) AS ${ddType(out)})", out)
      }
    case a: Avg =>
      // Spark offers Avg for COMPLETE pushdown only; if we decline it
      // re-plans as decomposed sum+count partials. Spark's Average
      // resultType is DOUBLE for every non-decimal numeric input —
      // decimals keep their widened-decimal result and stay on the
      // decomposed path (the A5 type-reconciliation discipline).
      for {
        r <- col(a.column)
        fl <- fieldOf(a.column)
        if avgIsDouble(fl.dataType)
      } yield {
        val d = if (a.isDistinct) "DISTINCT " else ""
        (s"CAST(avg($d$r) AS DOUBLE)", DoubleType)
      }
    case _ => None
  }

  private def avgIsDouble(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType => true
    case _ => false
  }

  private def ddType(t: DataType): String = t match {
    case LongType => "BIGINT"
    case DoubleType => "DOUBLE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case _ => throw new IllegalArgumentException(t.toString)
  }

  // Complete pushdown only without splits: the server computes ONE
  // final aggregate. In split mode we instead accept PARTIAL pushdown
  // (below) — each split computes its slice's aggregate server-side
  // and Spark merges the partials, the reference's split-mode
  // pushdown (aggregation_pushdown.cpp IsSplitSafe contract).
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    !split && template.isEmpty && translatable(agg)

  private def translatable(agg: Aggregation): Boolean = {
    agg.groupByExpressions().forall(e => col(e).isDefined) &&
    agg.aggregateExpressions().forall(f => translateAgg(f).isDefined)
  }

  /** The reference's IsSplitSafe set: sum/count/min/max, no DISTINCT
   *  (partials of avg arrive here already decomposed by Spark; count
   *  DISTINCT is not mergeable and falls back to a raw-row scan). */
  private def splitSafe(agg: Aggregation): Boolean =
    agg.aggregateExpressions().forall {
      case _: CountStar => true
      case c: Count => !c.isDistinct
      case _: Min => true
      case _: Max => true
      case s: Sum => !s.isDistinct
      case _ => false
    }

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (template.isDefined || !translatable(agg)) return false
    if (split && !splitSafe(agg)) return false
    val gb = agg.groupByExpressions().toSeq.flatMap(col)
    val gbFields = agg.groupByExpressions().toSeq.flatMap(fieldOf)
    val aggs = agg.aggregateExpressions().toSeq.flatMap(translateAgg)
    val selects = gb.zipWithIndex.map { case (g, i) =>
      s"$g AS ${DdWire.quoteIdent(s"g_$i")}"
    } ++ aggs.zipWithIndex.map { case ((sql, _), i) =>
      s"$sql AS ${DdWire.quoteIdent(s"a_$i")}"
    }
    aggSelect = Some(selects)
    aggGroupBy = gb
    aggSchema = Some(StructType(
      gbFields.zipWithIndex.map { case (f, i) =>
        StructField(s"g_$i", f.dataType, f.nullable)
      } ++ aggs.zipWithIndex.map { case ((_, dt), i) =>
        StructField(s"a_$i", dt, nullable = true)
      }))
    // columns the per-split agg template reads (split planning prunes
    // the base relation to these before /v1/plan)
    aggInputCols = (
      gb ++ agg.aggregateExpressions().toSeq.flatMap {
        case c: Count => col(c.column).toSeq
        case m: Min => col(m.column).toSeq
        case m: Max => col(m.column).toSeq
        case s: Sum => col(s.column).toSeq
        case a: Avg => col(a.column).toSeq
        case _ => Seq.empty
      }
    ).distinct
    true
  }

  // ---- final SQL
  private def buildSql(): String = {
    val rel = s"($base) __dd_t"
    val where =
      if (whereSql.isEmpty) "" else " WHERE " + whereSql.mkString(" AND ")
    aggSelect match {
      case Some(sel) =>
        val gb =
          if (aggGroupBy.isEmpty) ""
          else " GROUP BY " + aggGroupBy.mkString(", ")
        s"SELECT ${sel.mkString(", ")} FROM $rel$where$gb"
      case None =>
        val cols =
          if (required.fields.isEmpty) "42 AS \"__dd_dummy\""
          else required.fields.map(f => DdWire.quoteIdent(f.name))
            .mkString(", ")
        s"SELECT $cols FROM $rel$where"
    }
  }

  override def build(): Scan = template match {
    case Some(t) =>
      new DdScan(fullSchema, url, t.wrap(base), token, pushed,
        aggPushed = false, emptyProjection = false,
        split = split, splitSize = splitSize,
        splitPlanSql = t.filtered(base), wrapSplit = t.wrap)
    case None => buildPushed()
  }

  private def buildPushed(): Scan = {
    val schema = aggSchema.getOrElse(required)
    // Split planning runs over the PRUNED+FILTERED base relation;
    // with a (partial) aggregate pushed, each split's rewritten slice
    // is wrapped with the agg template so the server computes the
    // slice's partials and Spark merges them (plain splits when no
    // agg is pushed).
    val planCols =
      if (aggSelect.isDefined) {
        if (aggInputCols.isEmpty) "42 AS \"__dd_dummy\""
        else aggInputCols.mkString(", ")
      } else if (required.fields.isEmpty) "42 AS \"__dd_dummy\""
      else required.fields.map(f => DdWire.quoteIdent(f.name))
        .mkString(", ")
    val where =
      if (whereSql.isEmpty) "" else " WHERE " + whereSql.mkString(" AND ")
    val splitPlanSql = s"SELECT $planCols FROM ($base) __dd_t$where"
    val gbClause =
      if (aggGroupBy.isEmpty) ""
      else " GROUP BY " + aggGroupBy.mkString(", ")
    val wrapSplit: String => String = aggSelect match {
      case Some(sel) =>
        q => s"SELECT ${sel.mkString(", ")} FROM ($q) __dd_s$gbClause"
      case None => identity
    }
    new DdScan(schema, url, buildSql(), token, pushed,
      aggSelect.isDefined, emptyProjection = required.fields.isEmpty
        && aggSelect.isEmpty,
      split = split, splitSize = splitSize,
      splitPlanSql = splitPlanSql, wrapSplit = wrapSplit)
  }
}

// ----------------------------------------------------------------- scan

class DdScan(
    outSchema: StructType,
    url: String,
    sql: String,
    token: String,
    pushed: Array[Filter],
    aggPushed: Boolean,
    emptyProjection: Boolean,
    split: Boolean = false,
    splitSize: Long = 0L,
    splitPlanSql: String = "",
    wrapSplit: String => String = identity) extends Scan with Batch {

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"dd_arrow_dsv2 PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedAggregation: $aggPushed, RemoteSql: $sql"

  override def planInputPartitions(): Array[InputPartition] =
    if (split) {
      // each split is the server's rewritten slice of splitPlanSql;
      // with an aggregate pushed or templated, wrapSplit makes the
      // server compute the slice's partials (Spark merges above)
      DdWire.fetchPlan(url, splitPlanSql, splitSize, token)
        .zipWithIndex.map { case ((eps, q), i) =>
          DdPartition(eps, wrapSplit(q), i): InputPartition
        }
    } else {
      Array(DdPartition(Array(url), sql, 0))
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new DdReaderFactory(token, emptyProjection,
      outSchema.fields.map(_.name))
}

case class DdPartition(endpoints: Array[String], query: String, value: Int)
  extends InputPartition

/** Tracks the trailing 8 bytes of the stream so the reader can verify
 *  the Arrow IPC end-of-stream marker (0xFFFFFFFF then length 0) was
 *  actually received. Arrow's stream reader treats a BARE EOF at a
 *  message boundary as a normal end of stream — so a torn HTTP
 *  response truncated between batches would silently yield a SHORT
 *  split partial, which a merging aggregate then under-sums with no
 *  error anywhere (r9 verdict directive #1). Every well-formed stream
 *  our servers emit ends with the marker; its absence means the
 *  response was truncated and the split must fail loudly. */
class EosTrackingStream(underlying: InputStream) extends InputStream {
  private val tail = new Array[Byte](8)
  private var seen: Long = 0L

  private def record(b: Array[Byte], off: Int, len: Int): Unit = {
    if (len >= 8) {
      System.arraycopy(b, off + len - 8, tail, 0, 8)
    } else {
      val keep = math.max(0, 8 - len)
      System.arraycopy(tail, 8 - keep, tail, 0, keep)
      System.arraycopy(b, off, tail, keep, len)
    }
    seen += len
  }

  override def read(): Int = {
    val v = underlying.read()
    if (v >= 0) record(Array(v.toByte), 0, 1)
    v
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = underlying.read(b, off, len)
    if (n > 0) record(b, off, n)
    n
  }

  override def available(): Int = underlying.available()
  override def close(): Unit = underlying.close()

  def bytesSeen: Long = seen

  /** True iff the last 8 bytes were the IPC stream EOS marker. */
  def sawEosMarker: Boolean =
    seen >= 8 &&
      tail(0) == -1 && tail(1) == -1 && tail(2) == -1 && tail(3) == -1 &&
      tail(4) == 0 && tail(5) == 0 && tail(6) == 0 && tail(7) == 0
}

/** Process-exit cancel sweep — the third cancel channel next to
 *  close() and the connection drop: task teardown calls
 *  close(), covering kills/limits/errors, but a whole-JVM death
 *  (driver SIGTERM in local mode, executor decommission on a cluster)
 *  never runs close(), which would leave the in-flight queries running
 *  server-side until timeout. Every open mid-stream reader registers here; a JVM
 *  shutdown hook fires the best-effort GET /v1/cancel for each. The
 *  hook only issues the event-channel cancels (the dying process's
 *  sockets drop on their own — the lease channel); it deliberately
 *  does NOT touch the Arrow readers, which other threads may still
 *  hold. */
object DdReaderRegistry {
  private val open =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DdColumnarReader]()
  @volatile private var hooked = false

  def register(r: DdColumnarReader): Unit = {
    ensureHook()
    open.add(r)
  }

  def unregister(r: DdColumnarReader): Unit = open.remove(r)

  def inFlight(): Int = open.size()

  private def ensureHook(): Unit = synchronized {
    if (!hooked) {
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => sweep(), "dd-arrow-cancel-sweep"))
      hooked = true
    }
  }

  /** Cancel every registered in-flight query (idempotent;
   *  best-effort). Public so tests can exercise the sweep without
   *  killing the JVM. */
  def sweep(): Unit =
    open.forEach(r => r.cancelInFlight())
}

class DdReaderFactory(token: String, emptyProjection: Boolean,
    expectedNames: Array[String] = null)
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new UnsupportedOperationException("columnar only")
  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] =
    new DdColumnarReader(
      p.asInstanceOf[DdPartition], token, emptyProjection, expectedNames)
}

/** Streams the Arrow IPC response one batch at a time — bounded
 *  memory regardless of result size (the S4 contract).
 *
 *  Replica failover + load spreading + bounded retry
 *  (read_arrow_dd.cpp / split_info.hpp semantics): split i STARTS at
 *  replica i %% n; a transient open failure (5xx, refused connection)
 *  moves to the next replica at once, and once every replica has been
 *  tried, retries back off, up to max(HttpRetries, replicas) attempts.
 *  Each attempt uses a FRESH query id (re-issuing one id could
 *  double-execute server-side) and best-effort-cancels the abandoned
 *  id on the endpoint that saw it. A 4xx fails the task at once.
 *  Only the OPEN is retried: a stream dying mid-way surfaces to Spark,
 *  whose task retry re-runs the whole split.
 *
 *  Cancel-on-teardown: a task killed or errored mid-stream closes the
 *  connection (the lease channel) AND fires GET /v1/cancel (the event
 *  channel) — the two-channel contract of cancel_monitor.cpp. */
class DdColumnarReader(p: DdPartition, token: String,
    emptyProjection: Boolean, expectedNames: Array[String] = null)
  extends PartitionReader[ColumnarBatch] {

  private val alloc = new RootAllocator(Long.MaxValue)
  private var endpoint: String = _
  private var queryId: Long = _
  private val in: EosTrackingStream = {
    val eps = if (p.endpoints.nonEmpty) p.endpoints else Array("")
    val start = math.floorMod(p.value, eps.length)
    val attempts = math.max(DdWire.HttpRetries, eps.length)
    var opened: InputStream = null
    var attempt = 0
    while (opened == null) {
      endpoint = eps((start + attempt) % eps.length)
      queryId = DdWire.newQueryId()
      try {
        opened = DdWire.open(
          DdWire.queryUrl(endpoint, p.query, queryId), token)
      } catch {
        case e: DdWire.TransientHttpException =>
          // the failed attempt's server may have started executing
          DdWire.cancelQuiet(endpoint, queryId, token)
          attempt += 1
          if (attempt >= attempts) {
            alloc.close()
            throw new RuntimeException(
              s"dd_arrow_dsv2: $attempts attempt(s) over ${eps.length}" +
                " replica(s) failed", e)
          }
          if (attempt >= eps.length) DdWire.backoff((attempt - 1) / eps.length)
        case e: Exception =>
          alloc.close()
          throw e
      }
    }
    new EosTrackingStream(opened)
  }
  private val reader =
    new ArrowStreamReader(in, alloc)
  private var batch: ColumnarBatch = _
  private var exhausted = false
  private var rowsRead: Long = 0L

  DdReaderRegistry.register(this)

  /** Best-effort event-channel cancel of the in-flight query; no-op
   *  once the stream is exhausted. Fired by close() on mid-stream
   *  teardown and by DdReaderRegistry's JVM shutdown hook. */
  def cancelInFlight(): Unit = {
    if (!exhausted) {
      DdWire.cancelQuiet(endpoint, queryId, token)
    }
  }

  override def next(): Boolean = {
    if (!reader.loadNextBatch()) {
      // Arrow treats a bare EOF between messages as a normal end of
      // stream; demand the explicit EOS marker so a torn response
      // truncated at a batch boundary errors here (and the task
      // retries) instead of surfacing as a silently-short partial
      // that an aggregate merge would under-sum.
      if (!in.sawEosMarker) {
        throw new RuntimeException(
          s"dd_arrow_dsv2: stream from $endpoint (query id $queryId) " +
            s"ended without the Arrow EOS marker after $rowsRead rows" +
            s"/${in.bytesSeen} bytes — truncated split response")
      }
      exhausted = true
      return false
    }
    val root = reader.getVectorSchemaRoot
    if (rowsRead == 0 && expectedNames != null && !emptyProjection) {
      // Spark binds the arrow vectors to the declared read schema BY
      // POSITION: a replica answering with a different column order
      // (fleet inconsistency — the reference's queryChecksum class of
      // failure) would silently SWAP columns. Check once per stream.
      val got = root.getSchema.getFields.asScala.map(_.getName).toArray
      if (!got.map(_.toLowerCase)
            .sameElements(expectedNames.map(_.toLowerCase))) {
        throw new RuntimeException(
          s"dd_arrow_dsv2: replica $endpoint returned schema " +
            s"[${got.mkString(", ")}], expected " +
            s"[${expectedNames.mkString(", ")}] — inconsistent replica")
      }
    }
    rowsRead += root.getRowCount
    val vectors: Array[ColumnVector] =
      if (emptyProjection) Array.empty
      else root.getFieldVectors.asScala
        .map(v => new ArrowColumnVector(v): ColumnVector).toArray
    batch = new ColumnarBatch(vectors, root.getRowCount)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    DdReaderRegistry.unregister(this)
    // torn down mid-stream (kill/limit/error): fire the explicit
    // cancel first; dropping the connection below is the lease cancel
    cancelInFlight()
    try reader.close()
    finally {
      try in.close() finally alloc.close()
    }
  }
}

package graft.sql

import graft.{SessionCatalog, TableMeta}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.matching.Regex

/** QuestDB-flavored SQL front end: a pre-rewrite layer that translates
  * the reference's time-series SQL extensions (SURVEY §1.2 "API
  * surface", §7.0) onto Spark SQL / graft ops:
  *
  *  - interval literals down to second/fraction precision with duration,
  *    period and repeat modifiers: `ts IN '2024'`, `'2024-01-15T10:30'`,
  *    `'2018-01-10T10:30;30m;2d;2'` → half-open range predicates
  *    (reference `WhereClauseParser.extract` → `IntrinsicModel`,
  *    `model/IntervalUtils.java:663` legacy `lo;duration;period;count`)
  *  - `LATEST ON <ts> PARTITION BY <keys>` → ranked-subquery rewrite
  *  - `SAMPLE BY <n><unit> [FROM..TO] [FILL(...)] [ALIGN TO CALENDAR
  *    [TIME ZONE 'z'] [WITH OFFSET 'hh:mm'] | FIRST OBSERVATION]` →
  *    `GROUP BY window(...)` or [[graft.ops.SampleBy]]
  *  - `ASOF/LT/SPLICE JOIN [ON keys] [TOLERANCE] [WHERE] [tail]` →
  *    [[graft.ops.AsofJoin]]
  *  - `WINDOW JOIN ... [INCLUDE PREVAILING]`, `HORIZON JOIN` →
  *    [[graft.ops.WindowJoin]] / [[graft.ops.HorizonJoin]]
  *  - bind variables `$1`/`:name` (reference
  *    `bind/BindVariableServiceImpl.java`) — Spark named parameters on
  *    the pass-through path, literal substitution on dialect forms
  *  - `LIMIT -n` (tail) and `LIMIT lo,hi` ranges
  *
  * The time-series join forms accept a table name or a parenthesized
  * subquery (itself dialect-rewritten) on either side, resolve each
  * side's designated timestamp from its [[graft.TableMeta]] record or
  * [[graft.Tables.designatedTs]] (falling back to `ts`, then to the first
  * timestamp-typed column), and allow post-join WHERE / ORDER BY /
  * LIMIT. Everything else passes through to Spark SQL untouched (which
  * already covers the reference's ANSI surface: joins, aggs, windows,
  * set ops, CTEs, subqueries).
  */
object QuestSql {

  // ---- per-table state ------------------------------------------------------
  // Designated timestamps, declared columns, view definitions and the
  // rest of a table's facts live in one graft.TableMeta record per table
  // in the session's graft.SessionCatalog. Text rewrites that run before
  // the statement reaches Spark receive that catalog as a parameter.
  /** `expr alias` (implicit, call-result only) → `expr AS alias` so op
    * forms see one alias spelling. */
  private def normalizeAliasSpelling(item: String): String = {
    val t = item.trim
    val m = """(?is)^(.*[\w.'")\]])\s+`?([A-Za-z_]\w*)`?\s*$""".r.findFirstMatchIn(t)
    // words that end an EXPRESSION fragment, not an operand — a trailing
    // identifier after one of these is part of the syntax, not an alias
    val exprTail = Set("distinct", "all", "and", "or", "not", "like", "ilike",
      "in", "is", "between", "escape", "over", "within", "by", "as", "then",
      "when", "else", "case", "interval", "from", "null", "nulls", "first",
      "last", "asc", "desc", "respect", "ignore")
    m match {
      case Some(g) if !g.group(2).equalsIgnoreCase("as") &&
          !exprTail(g.group(2).toLowerCase) &&
          !exprTail(g.group(1).split("[^\\w]+").lastOption.getOrElse("").toLowerCase) =>
        s"${g.group(1)} AS ${g.group(2)}"
      case _ => item
    }
  }

  /** Select aliases minted as ns carriers (`cast(x AS timestamp_ns) AS
    * c`), captured textually before the macro pass erases the marker —
    * a last-resort ts resolution hint for derived relations. */
  private val nsAliasHints =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def tsOfRel(refName: String, df: DataFrame): String = {
    val cat = SessionCatalog(df.sparkSession)
    val registered = if (refName.nonEmpty) cat.designatedTs(refName) else None
    registered.getOrElse {
      if (df.columns.contains("ts")) "ts"
      else df.schema.fields
        .find(_.dataType == org.apache.spark.sql.types.TimestampType)
        .map(_.name)
        .orElse {
          // ns-carrier designated ts (BIGINT nanos): a long column whose
          // name is some table's registered designated timestamp —
          // `(x latest on k …) sample by` materializes to a view whose
          // ts column kept the base table's name
          val known = cat.designatedTsNames
          df.schema.fields.find(f =>
            f.dataType == org.apache.spark.sql.types.LongType &&
              known.contains(f.name)).map(_.name)
            .orElse {
              // a subquery RENAME of the ns carrier (`ts AS ts1` —
              // SampleByNanoTimestampTest:6443): digit-suffixed spelling
              // of a registered designated ts
              df.schema.fields.find(f =>
                f.dataType == org.apache.spark.sql.types.LongType &&
                  known.contains(f.name.replaceAll("\\d+$", ""))).map(_.name)
            }
            .orElse {
              // a materialized subquery whose select MINTED the ns
              // carrier (`cast(... as timestamp_ns) AS date` — the view
              // registration declared it TIMESTAMP_NS;
              // SampleByNanoTimestampTest:3090)
              cat.get(refName).map(_.columns)
                .flatMap(_.collectFirst {
                  case (n, d) if d.tpe.toUpperCase.startsWith("TIMESTAMP_NS") &&
                      df.columns.exists(_.equalsIgnoreCase(n)) =>
                    df.columns.find(_.equalsIgnoreCase(n)).get
                })
            }
            .orElse {
              // alias-level ns hints captured before macro expansion
              df.schema.fields.find(f =>
                f.dataType == org.apache.spark.sql.types.LongType &&
                  nsAliasHints.contains(f.name.toLowerCase)).map(_.name)
            }
        }
        .getOrElse("ts")
    }
  }

  // ---- query activity / CANCEL QUERY ---------------------------------------
  // (reference QueryRegistry + table/QueryActivityFunctionFactory +
  // SqlCompilerImpl.compileCancel). Each public sql() call registers an
  // entry keyed by a monotonically increasing id; the entry remembers the
  // calling thread's Spark job group (PGWire/REST set one per connection),
  // so CANCEL QUERY <id> cancels exactly that group's running jobs.
  private[graft] final case class ActivityEntry(id: Long, query: String,
    startUs: Long, group: String, state: java.util.concurrent.atomic.AtomicReference[String])
  private val activitySeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val activityReg = new java.util.concurrent.ConcurrentHashMap[Long, ActivityEntry]()

  private def beginActivity(spark: SparkSession, query: String): Unit = {
    val id = activitySeq.incrementAndGet()
    val sc = spark.sparkContext
    val group = Option(sc.getLocalProperty("spark.jobGroup.id")).getOrElse {
      val g = s"graft-query-$id"
      sc.setJobGroup(g, query.take(120), interruptOnCancel = true)
      g
    }
    activityReg.put(id, ActivityEntry(id, query, System.currentTimeMillis() * 1000L, group,
      new java.util.concurrent.atomic.AtomicReference("active")))
    if (activityReg.size > 256) { // bounded: keep the newest 256
      import scala.jdk.CollectionConverters._
      activityReg.keySet.asScala.toSeq.sorted.dropRight(256).foreach(activityReg.remove(_))
    }
  }

  private[graft] def queryActivity(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // full reference shape (activity/QueryActivityFunctionFactory
    // METADATA): worker/pool/user are the local session's, memory_used
    // is the JVM's current footprint, memory_limit null = unlimited
    val used = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    // in-flight = the currently-building query (this one), anything
    // still marked active, or an entry whose Spark job group is
    // executing right now (a query runs its ACTIONS after sqlBound
    // returned the lazy plan)
    val tracker = spark.sparkContext.statusTracker
    def running(group: String): Boolean =
      tracker.getJobIdsForGroup(group).exists { jid =>
        val info = tracker.getJobInfo(jid)
        info.isDefined && info.get.status() == org.apache.spark.JobExecutionStatus.RUNNING
      }
    activityReg.values.asScala.toSeq
      .filter(e => e.state.get == "active" || e.id == activitySeq.get() ||
        (e.state.get == "completed" && running(e.group)))
      .sortBy(_.id)
      .map(e => (e.id, 0L, "shared", "admin",
        new java.sql.Timestamp(e.startUs / 1000L),
        new java.sql.Timestamp(e.startUs / 1000L), e.state.get, false,
        e.query, used, None: Option[Long]))
      .toDF("query_id", "worker_id", "worker_pool", "username", "query_start",
        "state_change", "state", "is_wal", "query", "memory_used", "memory_limit")
  }

  // ---- public entry ---------------------------------------------------------

  /** Reference string literals are VERBATIM — `''` is the only escape;
    * `\n` is a backslash and an n (cairo GenericLexer). Spark's parser
    * decodes backslash escapes, so double every backslash inside
    * single-quoted literals of USER statements at the Engine boundary;
    * Spark's unescape then restores the verbatim text. Generated SQL
    * (rewrite passes) never goes through this — its literals are
    * written for Spark's decoding. */
  def verbatimStrings(q: String): String = {
    if (q.indexOf('\\') < 0) return q
    val sb = new StringBuilder
    val n = q.length
    var i = 0
    while (i < n) {
      val c = q.charAt(i)
      if (c == '\'') {
        sb.append(c); i += 1
        var closed = false
        while (i < n && !closed) {
          val d = q.charAt(i)
          if (d == '\'') {
            if (i + 1 < n && q.charAt(i + 1) == '\'') { sb.append("''"); i += 2 }
            else { sb.append('\''); i += 1; closed = true }
          } else if (d == '\\') { sb.append("\\\\"); i += 1 }
          else { sb.append(d); i += 1 }
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Rewrite + run against tables registered as temp views. */
  def sql(spark: SparkSession, query: String): DataFrame = {
    beginActivity(spark, query)
    val id = activitySeq.get()
    try sqlBound(spark, query, Map.empty)
    finally
      // query_activity() lists IN-FLIGHT queries (the reference registry
      // drops completed ones) — plan construction done = completed. A
      // query_activity() reader snapshots the registry DURING its own
      // construction (local rows), so its own row is still visible.
      Option(activityReg.get(id)).foreach { e =>
        if (e.state.get == "active") e.state.set("completed")
      }
  }

  /** Positional bind variables: `$1`, `$2`, ... */
  def sql(spark: SparkSession, query: String, args: Seq[Any]): DataFrame = {
    val named = args.zipWithIndex.map { case (v, i) => s"__gp${i + 1}" -> v }.toMap
    val q = """\$(\d+)""".r.replaceAllIn(query, m => ":__gp" + m.group(1))
    sqlBound(spark, q, named)
  }

  /** Named bind variables: `:name`. */
  def sql(spark: SparkSession, query: String, named: Map[String, Any]): DataFrame =
    sqlBound(spark, query, named)

  // ---- DECLARE variable blocks (reference SqlParser.java:3605:
  // `DECLARE @a := 1, @b := (1,2,3) SELECT ...` — one block, variables
  // substitute textually into the statement, later declarations may
  // reference earlier ones) --------------------------------------------------

  private val DeclareRe = """(?is)^DECLARE\s+(.*)$""".r

  private[graft] def expandDeclare(q: String): String = q match {
    case DeclareRe(rest) =>
      // the block ends at the first top-level statement keyword
      var depth = 0; var cut = -1; var i = 0
      while (i < rest.length && cut < 0) {
        rest.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '\'' =>
            // skip the string literal, honoring '' escapes
            i += 1
            var closed = false
            while (i < rest.length && !closed) {
              if (rest.charAt(i) == '\'') {
                if (i + 1 < rest.length && rest.charAt(i + 1) == '\'') i += 1
                else closed = true
              }
              if (!closed) i += 1
            }
          case c if depth == 0 && (c == 'S' || c == 's' || c == 'W' || c == 'w') =>
            val tail = rest.substring(i)
            if ("""(?is)^(SELECT|WITH)\b.*""".r.matches(tail) &&
              (i == 0 || !rest.charAt(i - 1).isLetterOrDigit)) cut = i
          case _ =>
        }
        i += 1
      }
      if (cut < 0) return q // malformed — let the parser complain
      var stmt = rest.substring(cut)
      val vars = collection.mutable.LinkedHashMap[String, String]()
      splitSelect(rest.substring(0, cut).trim.stripSuffix(",")).foreach { entry =>
        """(?s)^@(\w+)\s*:=\s*(.*)$""".r.findFirstMatchIn(entry.trim).foreach { m =>
          var e = m.group(2).trim
          vars.foreach { case (n, v) => e = s"@$n\\b".r.replaceAllIn(e, Regex.quoteReplacement(v)) }
          // lists stay bare (`IN @list` → `IN (…)`); scalars get parens
          vars(m.group(1)) = if (e.startsWith("(") && e.endsWith(")")) e else s"($e)"
        }
      }
      // longest name first so @ab never matches inside @abc; substitution
      // only touches spans outside string literals, so SELECT '@a' survives
      stmt = mapOutsideQuotes(stmt) { span =>
        vars.toSeq.sortBy(-_._1.length).foldLeft(span) { case (s2, (n, v)) =>
          s"@$n\\b".r.replaceAllIn(s2, Regex.quoteReplacement(v))
        }
      }
      stmt
    case _ => q
  }

  /** Applies `f` to the code spans of `s`, copying single-quoted string
    * literals (with '' escapes) through untouched.
    */
  private def mapOutsideQuotes(s: String)(f: String => String): String = {
    val out = new StringBuilder
    var i = 0; var start = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') {
        out ++= f(s.substring(start, i))
        val litStart = i
        i += 1
        var closed = false
        while (i < s.length && !closed) {
          if (s.charAt(i) == '\'') {
            if (i + 1 < s.length && s.charAt(i + 1) == '\'') i += 1
            else closed = true
          }
          i += 1
        }
        out ++= s.substring(litStart, i)
        start = i
      } else i += 1
    }
    out ++= f(s.substring(start))
    out.toString
  }

  /** First word of a statement (lowercased) — "" when the statement
    * starts with punctuation (e.g. a parenthesized subquery).
    */
  private def firstWord(q: String): String =
    q.takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.').toLowerCase

  private val StatementKeywords = Set(
    "select", "with", "create", "insert", "update", "delete", "drop", "alter",
    "truncate", "rename", "copy", "show", "explain", "declare", "begin",
    "commit", "rollback", "set", "reset", "discard", "close", "unlisten",
    "deallocate", "reindex", "vacuum", "checkpoint", "snapshot", "refresh",
    "cancel", "grant", "revoke", "backup", "call", "values", "table")

  /** Table functions accepted as a bare statement (`generate_series(..)`
    * is a complete query, like a bare table name — reference SqlParser). */
  private val BareTableFns = Set(
    "generate_series", "long_sequence", "tables", "all_tables", "wal_tables",
    "table_columns", "table_partitions", "wal_transactions", "functions",
    "keywords", "pg_get_keywords", "views", "reader_pool", "writer_pool",
    "memory_metrics", "table_writer_metrics", "table_storage", "files",
    "import_files", "export_files", "export_activity", "query_activity",
    "checkpoint_status", "materialized_views", "live_views", "read_parquet")

  /** Flags the session so dialect-only analyzer rules
    * ([[graft.plans.RefWindowTypeRule]]) engage for this statement and
    * disengage after — DataFrame-API queries in the same session keep
    * Spark semantics. Save/restore handles the recursive calls
    * (refreshLiveViews, materialized subqueries). */
  private def withRefSemantics[A](spark: SparkSession)(f: => A): A = {
    val key = "graft.dialect.refSemantics"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Duplicate output names never survive in the reference
    * (SqlUtil.createColumnAlias appends numeric suffixes: the second
    * `grp` of a `SELECT *` over a self-join becomes `grp1`). */
  private[sql] def dedupOutputColumns(df: DataFrame): DataFrame = {
    val names = df.columns
    if (names.map(_.toLowerCase).distinct.length == names.length) return df
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val used = scala.collection.mutable.Set.empty[String]
    val renamed = names.map { n =>
      val k = n.toLowerCase
      val c = seen.getOrElse(k, 0)
      seen(k) = c + 1
      var out = if (c == 0) n else n + c
      while (!used.add(out.toLowerCase)) { seen(k) += 1; out = n + (seen(k) - 1) }
      out
    }
    df.toDF(renamed.toIndexedSeq: _*)
  }

  /** Plain views are DEFINITIONS, re-evaluated per read (reference
    * CreateViewOperation: a view resolves against the current state of
    * its base tables) — a Spark temp view freezes the plan it was
    * created from, so a base-table INSERT (which swaps the base temp
    * view) would otherwise leave the view stale. Refresh every
    * referenced view's temp view from its registered definition; while
    * a checkpoint is active, pinned definitions win (post-checkpoint
    * ALTER/DROP VIEW must not affect reads until RELEASE). */
  private val viewRefreshGuard = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }
  private def refreshPlainViews(spark: SparkSession, q: String): Unit = {
    val defs = SessionCatalog(spark).snapshot.collect {
      case (n, m) if m.plainView.isDefined || m.pinnedView.isDefined =>
        n -> (if (graft.ops.Checkpoint.active) m.pinnedView.orElse(m.plainView)
          else m.plainView)
    }.filterNot(d => viewRefreshGuard.get.contains(d._1))
    if (defs.isEmpty) return
    val qLower = q.toLowerCase
    defs.foreach { case (n, dOpt) =>
      if (("""(?<![\w])""" + java.util.regex.Pattern.quote(n) + """(?![\w])""").r
          .findFirstIn(qLower).isDefined) {
        dOpt.foreach { d =>
          viewRefreshGuard.set(viewRefreshGuard.get + n)
          try sqlBound(spark, d, Map.empty).createOrReplaceTempView(n)
          catch { case _: Exception => () }
          finally viewRefreshGuard.set(viewRefreshGuard.get - n)
        }
      }
    }
  }

  private def sqlBound(spark: SparkSession, query: String, named: Map[String, Any]): DataFrame =
    withRefSemantics(spark) {
      val df = sqlBound0(spark, query, named)
      // the LATEST ON helper rank must never surface in USER results —
      // but when the query text itself references __rn, this is a nested
      // materialization of the latest-on rewrite's own scaffolding and
      // the outer level still needs the column
      dedupOutputColumns(tagNsColumns(SessionCatalog(spark), query,
        if (df.columns.contains("__rn") && !query.contains("__rn")) df.drop("__rn") else df))
    }

  /** Word-boundary relation test: does lower-cased query text `qLower`
    * reference `table` as a relation? Short names (≤3 chars — 't', 'x')
    * collide with column names and aliases, so they additionally need a
    * relation-ish context (after FROM/JOIN/INTO/UPDATE/TABLE or a FROM-
    * list comma). Shared by every catalog-driven rewrite so a declared
    * column in an UNRELATED table can never contaminate a query. */
  private[sql] def refTable(qLower: String, table: String): Boolean = {
    var i = qLower.indexOf(table)
    while (i >= 0) {
      val pre = i == 0 || { val ch = qLower.charAt(i - 1); !ch.isLetterOrDigit && ch != '_' }
      val post = i + table.length >= qLower.length || {
        val ch = qLower.charAt(i + table.length); !ch.isLetterOrDigit && ch != '_'
      }
      if (pre && post) {
        if (table.length > 3) return true
        val ctx = qLower.substring(math.max(0, i - 12), i)
        if ("""(from|join|into|update|table)\s+$|,\s*$""".r.findFirstIn(ctx).isDefined ||
            i == 0) return true
      }
      i = qLower.indexOf(table, i + 1)
    }
    false
  }

  /** Is `ident` (a bare/qualified identifier) a declared TIMESTAMP_NS
    * column of a table the statement references? */
  private def declaredNsCol(cat: SessionCatalog, qLower: String, ident: String): Boolean = {
    if (!ident.matches("[\\w.]+")) return false
    val n = ident.split('.').last.toLowerCase
    cat.declared.exists { case (tbl, cols) =>
      refTable(qLower, tbl) &&
        cols.get(n).exists(_.tpe.toUpperCase.startsWith("TIMESTAMP_NS"))
    }
  }

  /** Tag result columns that carry a TIMESTAMP_NS-declared column of a
    * referenced table, so RefText prints the reference's 9-digit
    * NSEC_UTC pattern (cairo TimestampDriver ns formatting). Name-based:
    * the output column keeps the source column's name in the dialect's
    * select-list conventions. */
  private def tagNsColumns(cat: SessionCatalog, q: String, df: DataFrame): DataFrame = {
    val qLower = q.toLowerCase
    def referenced(table: String): Boolean = refTable(qLower, table)
    var nsCols = Set.empty[String]
    var usTsCols = Set.empty[String] // declared micro-precision timestamps
    cat.declared.foreach { case (tbl, cols) =>
      if (qLower.contains(tbl) && referenced(tbl)) {
        nsCols ++= cols.collect {
          case (n, d) if d.tpe.toUpperCase.startsWith("TIMESTAMP_NS") => n
        }
        usTsCols ++= cols.collect {
          case (n, d) if d.tpe.toUpperCase.startsWith("TIMESTAMP") &&
            !d.tpe.toUpperCase.startsWith("TIMESTAMP_NS") => n
        }
        // a CTAS table declares no µs columns explicitly, but its
        // registered designated ts is µs unless it IS an ns column
        // (LtTimestampFunctionFactoryTest: mixed ts + ts_ns via CTAS)
        cat.designatedTs(tbl).map(_.toLowerCase)
          .filterNot(n => cols.get(n).exists(_.tpe.toUpperCase.startsWith("TIMESTAMP_NS")))
          .foreach(usTsCols += _)
      }
    }
    // literal-only ns queries (generate_series over ::timestamp_ns
    // bounds, no tables): the ns-ness is spelled in the text itself
    if (nsCols.isEmpty && usTsCols.isEmpty &&
        (qLower.contains("timestamp_ns") ||
          // 7-9 fractional digits in a literal = ns-precision input
          """\.\d{7,9}z?'""".r.findFirstIn(qLower).isDefined)) {
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(graft.sql.RefText.NsMetaKey, true).build()
      return df.schema.fields.foldLeft(df) { (d, f) =>
        // select-list aliases bound directly to an ns expression
        // (`'…'::timestamp_ns time`, TimestampAtTimeZoneTest:150) —
        // 'at' and clause keywords are not aliases
        val nsAliases =
          """(?i)(?:::\s*timestamp_ns|to_timestamp_ns\s*\((?:[^()']|'[^']*')*\))\s+(?:as\s+)?`?([A-Za-z_]\w*)`?""".r
            .findAllMatchIn(q).map(_.group(1).toLowerCase)
            .filterNot(Set("at", "from", "where", "and", "or", "order", "group",
              "limit", "union", "intersect", "except", "sample", "latest", "join",
              "left", "right", "inner", "cross", "on", "asof", "lt", "splice",
              "window", "horizon", "between", "in", "is", "not", "then", "else",
              "when", "end")).toSet
        if (f.dataType == org.apache.spark.sql.types.TimestampType ||
            // ns-producing functions ride the BIGINT carrier ('cast' and
            // 'column' are the reference default names for unaliased
            // cast/operator items over ns expressions)
            (f.dataType == org.apache.spark.sql.types.LongType &&
              (Set("generate_series", "timestamp_floor", "timestamp_floor_utc",
                "timestamp_ceil", "timestamp_ceil_utc", "cast", "column",
                "date_trunc")(f.name.toLowerCase) ||
                nsAliases(f.name.toLowerCase))))
          d.withMetadata(f.name, meta)
        else d
      }
    }
    if (nsCols.isEmpty) df
    else {
      // pure-ns sources: every declared timestamp is ns — any timestamp
      // DERIVED from the table (timestamp_floor(...), dateadd(...)) is
      // ns too, whatever its output name. Mixed tables stay name-based.
      val allNs = usTsCols.isEmpty
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(graft.sql.RefText.NsMetaKey, true).build()
      df.schema.fields.foldLeft(df) { (d, f) =>
        val tsType = f.dataType == org.apache.spark.sql.types.TimestampType ||
          f.dataType == org.apache.spark.sql.types.LongType
        // a name declared ns in ONE referenced table but µs in another
        // is ambiguous (WindowJoinTest master.ts µs vs slave.ts ns) —
        // µs wins for the selected output. Catalog-function metadata
        // timestamps are µs whatever the table's precision
        // (TablesFunctionFactoryTest over a TIMESTAMP_NS table).
        val catalogMeta = Set("table_min_timestamp", "table_max_timestamp",
          "table_last_write_timestamp", "wal_max_timestamp", "mintimestamp",
          "maxtimestamp", "commit_wall_clock")(f.name.toLowerCase)
        // auto-aliased window/agg outputs over an ns SUBJECT keep ns-ness
        // (reference Lead*FunctionFactory getType() = arg type;
        // WindowFunctionTest:7373 `lead(ts_ns, 2, ts) over()` names the
        // column `lead1`): map the alias's occurrence index back to the
        // query's Nth call of that function and read its first argument
        val autoAliasNs = f.dataType == org.apache.spark.sql.types.LongType && {
          val fnIdx = """^(lead|lag|first_value|last_value|nth_value|min|max)(\d*)$""".r
          f.name.toLowerCase match {
            case fnIdx(fn, idx) =>
              val occ = if (idx.isEmpty) 0 else idx.toInt
              s"(?i)\\b$fn\\s*\\(\\s*([\\w.]+)".r.findAllMatchIn(q).toSeq
                .lift(occ).map(_.group(1).split('.').last.toLowerCase)
                .exists(nsCols)
            case _ => false
          }
        }
        if (tsType && !catalogMeta &&
            (autoAliasNs ||
              (nsCols(f.name.toLowerCase) && !usTsCols(f.name.toLowerCase)) ||
              (allNs && f.dataType == org.apache.spark.sql.types.TimestampType)))
          d.withMetadata(f.name, meta)
        else d
      }
    }
  }

  private val profOn = sys.env.contains("GRAFT_PROF")
  private def prof[T](label: String)(f: => T): T =
    if (!profOn) {
      if (System.getenv("GRAFT_DEBUG") == null) f
      else try f catch {
        case e: Throwable =>
          System.err.println(s"[graft-dbg] stage $label threw: ${e.toString.take(200)}")
          throw e
      }
    } else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[prof] ${(System.nanoTime() - t0) / 1e6}%8.2f ms  $label")
      r
    }

  /** Table names CONTAINING dots (reference `'sys.telemetry_wal'` — a
    * single name, not schema.table; CreateTableTest/SampleByTest).
    * Spark temp views reject multi-part names, so dotted names mangle
    * to `__dot__` consistently across creation and every reference
    * spelling (quoted, double-quoted, backticked, bare). A CREATE files
    * the mangled name in the catalog; the session's dotted names are
    * the catalog keys that carry the marker. */
  private def mangleDottedTables(cat: SessionCatalog, q0: String): String = {
    var q = q0
    """(?is)\bcreate\s+table(?:\s+if\s+not\s+exists)?\s+['"`]([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)['"`]""".r
      .findAllMatchIn(q).foreach(m => cat.update(m.group(1).replace(".", "__dot__"))(identity))
    if (!q.contains(".")) return q
    val dotted = cat.snapshot.map(_._1).filter(_.contains("__dot__")).map(_.replace("__dot__", "."))
    if (dotted.isEmpty) return q
    // quoted spellings — only names the session actually created
    q = """['"`]([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)['"`]""".r.replaceAllIn(q, m =>
      if (dotted.contains(m.group(1).toLowerCase))
        java.util.regex.Matcher.quoteReplacement(m.group(1).replace(".", "__dot__"))
      else java.util.regex.Matcher.quoteReplacement(m.matched))
    // bare spellings — outside string literals only (a dotted name
    // inside a string is content, e.g. an error-message assertion)
    dotted.foreach { n =>
      q = DialectRewrites.mapOutside(q)(
        _.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(n) + "\\b",
          java.util.regex.Matcher.quoteReplacement(n.replace(".", "__dot__"))))
    }
    q
  }

  /** Mixed-unit timestamp comparisons (`ts <= ts_ns`,
    * LtTimestampFunctionFactoryTest): a TIMESTAMP_NS column rides as a
    * BIGINT nanos carrier, so comparing it with a µs TIMESTAMP needs a
    * unit bridge — scale the µs side to nanos (exact; the reverse
    * direction would truncate). Name-based over the referenced tables'
    * declared column types, like tagNsColumns. */
  private def nsMixedComparisons(cat: SessionCatalog, q0: String): String = {
    if (!q0.contains("_ns")) return q0
    val declared = cat.declared
    if (declared.isEmpty) return q0
    val qLower = q0.toLowerCase
    var nsCols = Set.empty[String]; var usCols = Set.empty[String]
    declared.foreach { case (tbl, cols) =>
      if (qLower.contains(tbl)) {
        nsCols ++= cols.collect {
          case (n, d) if d.tpe.toUpperCase.startsWith("TIMESTAMP_NS") => n.toLowerCase }
        usCols ++= cols.collect {
          case (n, d) if d.tpe.toUpperCase.startsWith("TIMESTAMP") &&
            !d.tpe.toUpperCase.startsWith("TIMESTAMP_NS") => n.toLowerCase }
      }
    }
    // CTAS tables declare no µs columns — their DESIGNATED ts is still
    // known through the registry
    declared.foreach { case (tbl, _) =>
      if (qLower.contains(tbl))
        cat.designatedTs(tbl).map(_.toLowerCase)
          .filterNot(nsCols).foreach(usCols += _)
    }
    if (nsCols.isEmpty || usCols.isEmpty) return q0
    // lead/lag DEFAULTS adopt the subject's precision in the reference
    // (Lead*FunctionFactory routes the default through the subject's
    // TimestampDriver — WindowFunctionTest:7373 mixes ts/ts_ns both
    // ways): bridge the unit so Spark's same-type check passes
    var q1 = {
      val ll = java.util.regex.Pattern.compile(
        "(?i)\\b(lead|lag)\\s*\\(\\s*([\\w.]+)\\s*,\\s*([^,()]+?)\\s*,\\s*([\\w.]+)\\s*\\)")
      val mm = ll.matcher(q0)
      val sb0 = new java.lang.StringBuilder
      def kind0(x: String): Int = {
        val n = x.split('.').last.toLowerCase
        if (nsCols(n)) 2 else if (usCols(n)) 1 else 0
      }
      while (mm.find()) {
        val (fn, subj, off, dflt) = (mm.group(1), mm.group(2), mm.group(3), mm.group(4))
        val repl = (kind0(subj), kind0(dflt)) match {
          case (1, 2) => s"$fn($subj, $off, timestamp_micros(CAST($dflt / 1000 AS BIGINT)))"
          case (2, 1) => s"$fn($subj, $off, unix_micros($dflt) * 1000)"
          case _ => mm.group(0)
        }
        mm.appendReplacement(sb0, java.util.regex.Matcher.quoteReplacement(repl))
      }
      mm.appendTail(sb0)
      sb0.toString
    }
    val cmp = java.util.regex.Pattern.compile(
      "([\\w.]+)\\s*(<=|>=|!=|<>|=|<|>)\\s*([\\w.]+)")
    val m = cmp.matcher(q1)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      def kind(x: String): Int = {
        val n = x.split('.').last.toLowerCase
        if (nsCols(n)) 2 else if (usCols(n)) 1 else 0
      }
      val (l, op, r) = (m.group(1), m.group(2), m.group(3))
      val repl = (kind(l), kind(r)) match {
        case (1, 2) => s"(unix_micros($l) * 1000) $op $r"
        case (2, 1) => s"$l $op (unix_micros($r) * 1000)"
        case _ => m.group(0)
      }
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(repl))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** SAMPLE BY FROM/TO bounds may be constant EXPRESSIONS (reference
    * `FROM timestamp_floor('2s', '…') TO timestamp_floor(…)`,
    * SampleByTest telemetry): fold them to timestamp literals before
    * the op-form parsers, which expect literal bounds. Non-constant or
    * failing expressions are left untouched (the fallback errors as
    * before). */
  private def evalSampleByBounds(spark: SparkSession, q0: String): String = {
    if (!"""(?i)\bsample\s+by\b""".r.findFirstIn(q0).isDefined) return q0
    val pat = java.util.regex.Pattern.compile(
      "(?i)\\b(FROM|TO)\\s+(timestamp_floor\\s*\\((?:[^()']|'[^']*'|\\([^()]*\\))*\\))")
    val m = pat.matcher(q0)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val repl =
        try {
          val v = sqlBound(spark, s"SELECT ${m.group(2)}", Map.empty).head().get(0)
          v match {
            case t: java.sql.Timestamp =>
              val fmt = java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
              m.group(1) + " '" + t.toLocalDateTime.format(fmt) + "'"
            case _ => m.group(0)
          }
        } catch { case _: Exception => m.group(0) }
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(repl))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Designated-timestamp names declared on DERIVED tables in the
    * current statement (`from (select …) timestamp(col)`), captured
    * before DialectRewrites drops the tail — the textual SAMPLE BY
    * lowering uses them to identify the bucket column when its name is
    * unconventional (SampleByTest nAS_ControlPlane). */
  private val innerDesignations = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private def sqlBound0(spark: SparkSession, query: String, named: Map[String, Any]): DataFrame = {
    // the rewrites below lower dialect functions to the custom registry
    // (weighted_stddev → weighted_stddev_rel_ref, vec_dot, …) — make the
    // registry exist no matter which statement reaches a session first
    graft.Engine.ensureFunctions(spark)
    val cat = SessionCatalog(spark)
    var q0 = mangleDottedTables(cat, expandDeclare(query.trim.stripSuffix(";")))
    // accumulate across the statement's recursive sub-evaluations (the
    // tails are dropped before subquery materialization re-enters here)
    innerDesignations.set(innerDesignations.get ++
      """(?is)\)\s*timestamp\s*\(\s*([\w.]+)\s*\)""".r.findAllMatchIn(q0)
        .map(_.group(1).split('.').last.toLowerCase))
    // a statement that is nothing but comments compiles to an empty
    // zero-column result in the reference
    if (q0.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("--[^\n]*", "").trim.isEmpty)
      return spark.emptyDataFrame
    rejectDecimalScaleMismatchJoin(cat, q0)
    // single-quoted select-item aliases (`sym AS 'sym'`) are identifier
    // quotes in the reference; Spark wants backticks
    if (!firstWord(q0).equalsIgnoreCase("copy"))
      q0 = rewriteQuotedAliases(q0)
    // optimizer hints are advisory — the op-form parsers don't speak
    // them. Our own scan-order scaffolding (COALESCE(1) before a
    // sequential id) must survive nested re-entry, so keep those.
    q0 = q0.replaceAll("(?si)/\\*\\+\\s*(?!coalesce).*?\\*/", " ").trim
    // a bare quoted table name is a complete query (keywords-as-names:
    // SELECT * FROM "table")
    """^["']([^"']+)["']\s*$""".r.findFirstMatchIn(q0).foreach { m =>
      q0 = s"SELECT * FROM `${m.group(1)}`"
    }
    // QuestDB shorthand: `SELECT * FROM` is optional — `trades WHERE ...
    // LATEST ON ... LIMIT n` is a complete query (reference SqlParser
    // parses a bare table as the model's FROM). Engage only when the
    // first word is no statement keyword AND names a known table/view,
    // so misspelled SQL still errors as SQL.
    val fw = firstWord(q0)
    val bareTableFn = BareTableFns(fw) &&
      q0.drop(q0.toLowerCase.indexOf(fw) + fw.length).trim.startsWith("(")
    val afterFw = q0.trim.drop(fw.length).trim
    val clauseNext = afterFw.isEmpty ||
      """(?i)^(where|latest|limit|order|sample|union|intersect|except)\b""".r
        .findFirstIn(afterFw).isDefined
    // a dotted head names a schema-qualified relation — pg_catalog /
    // information_schema views exist on demand, so accept them by name
    // (PrefixedPgClassFunctionFactoryTest bare `pg_catalog.pg_class c
    // LEFT JOIN …` queries)
    val fwDotted = q0.trim.takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
      .toLowerCase
    // `information_schema.columns()` — the reference's table-function
    // spelling; the backing object here is a VIEW, so drop the parens
    q0 = q0.replaceAll("(?i)\\b(information_schema)\\.(\\w+)\\s*\\(\\s*\\)", "$1.$2")
    if (fw.nonEmpty && !StatementKeywords(fw) &&
        (bareTableFn || clauseNext ||
          fwDotted.startsWith("pg_catalog.") ||
          fwDotted.startsWith("information_schema.") ||
          (try spark.catalog.tableExists(fw) catch { case _: Exception => false })))
      q0 = "SELECT * FROM " + q0
    // `(subquery) LATEST ON ... / SAMPLE BY ... / WHERE ...` — the
    // reference treats a parenthesized query as a relation any clause
    // may follow (SqlParser query model); Spark needs the SELECT head
    else if (q0.trim.startsWith("(")) {
      val t = q0.trim
      var depth = 0; var i = 0; var close = -1
      while (i < t.length && close < 0) {
        t.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case '\'' => var k = i + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; i = k
          case _ =>
        }
        i += 1
      }
      if (close > 0 &&
          """(?i)^(latest|sample|where)\b""".r
            .findFirstIn(t.substring(close + 1).trim).isDefined)
        q0 = "SELECT * FROM " + t
    }
    // bare table names as set-operation operands (`events1 except
    // events2` — reference treats a table name as a full query;
    // UnionAllCastTest). Also inside a statement-leading paren.
    q0 = prof("bareSetOps")(expandBareSetOperands(spark, q0))
    // CTAS `, cast(col as type), index(col)` tails fold into the inner
    // select BEFORE the cast macros expand them beyond the DDL grammar
    // (reference parseCreateTable cast list; CreateTableTest)
    q0 = prof("ctasCastTail")(normalizeCtasCastTail(spark, q0))
    // PIVOT ... FOR c IN (SELECT ...): the reference expands the in-list
    // subquery at compile time — same here (dimension values, tiny)
    q0 = prof("expandPivot")(expandPivotSubqueries(spark, q0))
    // reference-accepted spellings Spark's parser rejects (double-quoted
    // identifiers, 50_000 separators, ARRAY[..] literals, type[] casts,
    // sizeless VARCHAR/SYMBOL/UUID cast targets, at time zone, ...)
    // alias-level ns provenance must also be read before the macro pass
    // erases the markers: `cast(x AS timestamp_ns) AS c` mints an ns
    // carrier under c anywhere in the query (subquery unions feeding
    // SAMPLE BY — SampleByNanoTimestampTest:3090)
    """(?is)as\s+timestamp_ns\s*\)\s*(?:as\s+)?([A-Za-z_]\w*)""".r
      .findAllMatchIn(q0).foreach(m => nsAliasHints.add(m.group(1).toLowerCase))
    // select aliases bound to long256 casts inside THIS query (subquery
    // columns the declared registry never sees —
    // SumLong256GroupByFunctionFactoryTest inline derived tables)
    // CTAS long256 provenance reads the ORIGINAL spelling — the sizeless
    // cast rewrite is about to erase `as long256` to AS STRING
    // (SumLong256GroupByFunctionFactoryTest `cast(x as long256) x`)
    // bare 0x… literals are LONG256 CONSTANTS in the reference
    // (FunctionParser falls through int/long parses to extractLong256):
    // a CTAS select item minting one keeps the hex carrier and declares
    // the column LONG256 so comparisons render hex, not the decimal long
    // (EqLong256FunctionFactoryTest:65). Elsewhere the decimal-long
    // lowering stays — mixed arithmetic with longs needs it.
    if ("""(?is)^\s*CREATE\s""".r.findFirstIn(q0).isDefined &&
        """(?i)\b0x[0-9a-f]+\b""".r.findFirstIn(q0).isDefined)
      """(?is)^\s*CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`"']?[\w.]+[`"']?)\s+AS\s*\(\s*select\s+(.*?)\s+from\s""".r
        .findFirstMatchIn(q0).foreach { m =>
          val tbl = unq(m.group(1)).split('.').last
          splitSelect(m.group(2)).foreach { item =>
            """(?is)^\s*0x([0-9a-f]+)\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?\s*$""".r
              .findFirstMatchIn(item).foreach { hm =>
                cat.update(tbl)(_.withColumnIfAbsent(hm.group(2), "LONG256"))
                q0 = q0.replace(item,
                  s" '0x${hm.group(1).toLowerCase}' AS ${hm.group(2)}")
              }
          }
        }
    if ("""(?is)^\s*CREATE\s""".r.findFirstIn(q0).isDefined &&
        """(?i)\blong256\b""".r.findFirstIn(q0).isDefined)
      """(?is)^\s*CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`"']?[\w.]+[`"']?)\s+AS\s*\(\s*select\s+(.*?)\s+from\s""".r
        .findFirstMatchIn(q0).foreach { m =>
          splitSelect(m.group(2)).foreach { item =>
            if ("""(?i)\brnd_long256\b|\bto_long256\s*\(|::\s*long256\b|\bas\s+long256\b""".r
                .findFirstIn(item).isDefined)
              """(?is)^(.*\S)\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?\s*$""".r
                .findFirstMatchIn(item.trim)
                .filterNot(mm => mm.group(2).equalsIgnoreCase("long256"))
                .foreach(mm => cat.update(unq(m.group(1)))(
                  _.withColumnIfAbsent(mm.group(2), "LONG256")))
          }
        }
    q0 = prof("DialectRewrites")(DialectRewrites(q0, cat))
    // CTAS ns provenance must be read BEFORE the fn-macro pass erases
    // the spellings (to_timestamp_ns / timestamp_sequence_ns expand to
    // plain arithmetic)
    preRegisterCtasNs(cat, q0)
    preRegisterCtasIpv4(cat, q0)
    // reference-style result-set naming for unaliased expressions
    // (SqlUtil.createColumnAlias): `select 1+1` → column, `count()` →
    // count, duplicate bases get numeric suffixes
    // typed json_extract is ONE function in the reference
    // (JsonExtractTypedFunctionFactory): the `::type` spelling keeps the
    // json_extract column name (unlike a generic cast, named 'cast'),
    // and a TIMESTAMP target parses numeric json values as epoch micros
    // DialectRewrites already lowered `::timestamp` to __ts_us_cast —
    // swap that wrapper for the json-typed one
    q0 = q0.replaceAll(
      "(?i)__ts_us_cast\\(\\s*(json_extract\\s*\\((?:[^()']|'[^']*')*\\))\\s*\\)",
      "__jxts($1)")
    q0 = q0.replaceAll(
      "(?i)(__jxts\\(json_extract\\s*\\((?:[^()']|'[^']*')*\\)\\)" +
        "|json_extract\\s*\\((?:[^()']|'[^']*')*\\)\\s*::\\s*\\w+" +
        ")(\\s*(?:,|from\\b|$))",
      "$1 AS json_extract$2")
    q0 = prof("AutoAlias")(AutoAlias.rewriteQuery(q0))
    // sliding time-RANGE first/last_value → O(n) running-frame
    // aggregates (after AutoAlias so reference default names are pinned)
    q0 = prof("slidingValueFrames")(DialectRewrites.slidingValueFrames(q0, cat))
    // LATEST ON … SAMPLE BY …: latest-selection first, sampling second
    q0 = prof("latestThenSample")(rewriteLatestThenSampleBy(q0))
    q0 = prof("nsMixedComparisons")(nsMixedComparisons(cat, q0))
    // lateral-join parity: decorrelate bodies Spark's lateral planner
    // cannot host (deep refs, correlated set-ops, dialect operators) and
    // align empty-group semantics with the reference's count driver
    q0 = prof("LateralRewrites")(LateralRewrites(q0,
      sub => try {
        val v = s"__graft_lat_${subqueryCounter.incrementAndGet()}"
        sqlBound(spark, sub, Map.empty).createOrReplaceTempView(v)
        Some(v)
      } catch { case _: Exception => None },
      t => try Some(spark.table(t).columns.toSeq) catch { case _: Exception => None }))
    // PG clients and BI tools probe these on connect — materialize fresh
    // (only the schema the query touches)
    val wantsInfo = """(?i)\binformation_schema\s*\.""".r.findFirstIn(q0).isDefined
    val wantsPg = """(?i)\bpg_catalog\s*\.""".r.findFirstIn(q0).isDefined
    if (wantsInfo || wantsPg)
      graft.Catalog.ensureMetaViews(spark, info = wantsInfo, pg = wantsPg)
    prof("refreshLiveViews")(refreshLiveViews(spark, q0))
    prof("refreshPlainViews")(refreshPlainViews(spark, q0))
    prof("refreshMatViews")(refreshDirtyMatViews(spark, q0))
    // dialect forms build DataFrames directly → substitute literals;
    // the pass-through keeps markers and uses Spark's parameter binder
    // key-predicate pushdown past SAMPLE BY FILL must precede BOTH the
    // forms path and the fallback (which re-derives from q0)
    q0 = pushFilterIntoSampleBy(cat, q0)
    q0 = evalSampleByBounds(spark, q0)
    // set-op operands holding dialect ops are evaluated per-operand into
    // views BEFORE the whole-query form matchers (which would otherwise
    // mis-anchor across the union) — SqlCodeGeneratorTest:8264/8297
    q0 = prof("setOpOperands")(materializeSetOpDialectOperands(spark, q0))
    q0 = prof("withCtes")(materializeWithCtesForOps(spark, q0))
    q0 = prof("unionFirstApp")(unionFirstAppearance(spark, q0))
    q0 = prof("fullJoinOrder")(fullJoinAppearanceOrder(spark, q0))
    val qForms = prof("qForms")(rewriteTableFns(spark, rewriteTsAggs(spark,
      rewriteFnMacros(cat, rewriteIntervalLiterals(normalizeSampleByStride(
        if (named.isEmpty) q0 else substParams(q0, named)))))))
    val qSub0 = prof("materializeSub")(materializeDialectSubqueries(spark, qForms))
    val qSub = prof("materializeWjm")(materializeWindowJoinMaster(spark, qSub0))
    prof("dialectForms")(statementForm(spark, qSub)
      .orElse(rangeLimitNegForm(spark, qSub))
      .orElse(showForm(spark, qSub))
      .orElse(asofForm(spark, qSub))
      .orElse(windowJoinForm(spark, qSub))
      .orElse(multiHorizonForm(spark, qSub))
      .orElse(horizonJoinForm(spark, qSub))
      .orElse(sampleByOpForm(spark, qSub))
      .orElse(emaWindowForm(spark, qSub)))
      .getOrElse {
        // the fallback re-derives from q0 to keep :name markers for
        // Spark's parameter binder — re-apply the table-fn substitution
        val rewritten = prof("fb:rewrite")(materializeDialectSubqueries(spark, windowOrderTail(spark,
          rewriteTableFns(spark, rewriteTsAggs(spark, rewrite(q0, cat))))))
        // QuestDB comparisons are value-based, not three-valued: null =
        // null is TRUE, x != null is TRUE (reference docs; UuidTest
        // `cast(null as string) = cast(null as uuid)` → true). Lower =
        // to Spark's null-safe EqualNullSafe on the analyzed plan —
        // dialect queries only, so the DataFrame API keeps SQL 3VL.
        def nullSafeEq(df: DataFrame): DataFrame = {
          import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
          val plan = df.queryExecution.analyzed
          var hit = false
          // descend into subquery plans too: a correlated LATERAL body's
          // correlation equality must match null keys (reference
          // LateralJoinTest null-id cases). Restricted to equalities with
          // an outer reference on exactly one side, in limit-free
          // subqueries — Spark's decorrelation of EqualNullSafe under
          // Limit/Aggregate diverges from the plain-equality plan
          import org.apache.spark.sql.catalyst.expressions.OuterReference
          import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Window => LWindow}
          def fixSub(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
              : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
            // Window: Spark's PullupCorrelatedPredicates only hoists
            // EqualTo correlation keys across Window nodes — a null-safe
            // <=> there leaves the subquery corrupt (MISSING_ATTRIBUTES
            // at the LateralJoin; LateralJoinTest:9358 cum-qty sweeps)
            if (p.exists(n => n.isInstanceOf[GlobalLimit] || n.isInstanceOf[LocalLimit] ||
                n.isInstanceOf[LWindow])) p
            else p.transformAllExpressions {
              case EqualTo(l, r)
                  if l.exists(_.isInstanceOf[OuterReference]) !=
                    r.exists(_.isInstanceOf[OuterReference]) =>
                hit = true; EqualNullSafe(l, r)
            }
          // the reference compares through the NaN null-carrier
          // (Double.compare(NaN, NaN) == 0): `null >= null` and
          // `null <= null` are TRUE, strict </> stay false
          // (DoubleCursorFunctionFactoryTest null-vs-null cursors).
          // Identity-set guard: the rewrite re-embeds the original node,
          // which the downward traversal would otherwise re-match.
          val wrapped = java.util.Collections.newSetFromMap(
            new java.util.IdentityHashMap[
              org.apache.spark.sql.catalyst.expressions.Expression, java.lang.Boolean]())
          import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, IsNull, LessThanOrEqual, Or}
          // the both-NULL-compare-true carrier is the reference's NaN
          // ordering (Double.compare(NaN, NaN) == 0) — a NUMERIC /
          // datetime model; string/boolean comparisons and join keys
          // keep SQL 3VL
          def carrierTyped(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
            e.dataType match {
              case _: org.apache.spark.sql.types.NumericType => true
              case org.apache.spark.sql.types.TimestampType |
                   org.apache.spark.sql.types.TimestampNTZType |
                   org.apache.spark.sql.types.DateType => true
              case _ => false
            }
          val fixed0 = plan.transformAllExpressions {
            case EqualTo(l, r) => hit = true; EqualNullSafe(l, r)
            case ge @ GreaterThanOrEqual(l, r)
                if l.nullable && r.nullable && carrierTyped(l) && carrierTyped(r) &&
                  !wrapped.contains(ge) =>
              hit = true; wrapped.add(ge)
              Or(ge, And(IsNull(l), IsNull(r)))
            case le @ LessThanOrEqual(l, r)
                if l.nullable && r.nullable && carrierTyped(l) && carrierTyped(r) &&
                  !wrapped.contains(le) =>
              hit = true; wrapped.add(le)
              Or(le, And(IsNull(l), IsNull(r)))
          }
          val fixed = fixed0.transformAllExpressions {
            case sub: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
              sub.withNewPlan(fixSub(sub.plan))
          }
          if (hit) org.apache.spark.sql.classic.GraftBridge.ofRows(spark, fixed) else df
        }
        def run(q: String): DataFrame = {
          if (System.getenv("GRAFT_DEBUG") != null)
            System.err.println(s"[graft-dbg] fb:run: $q")
          prof("fb:run")(nullSafeEq(prof("fb:spark.sql")(if (named.isEmpty) spark.sql(q) else spark.sql(q, named))))
        }
        // QuestDB implicit GROUP BY (reference SqlOptimiser: "GROUP BY is
        // optional" — `SELECT sym, avg(price) FROM trades` auto-groups on
        // the bare columns). Spark's analyzer classifies aggregate vs
        // non-aggregate for us: MISSING_GROUP_BY carries the partially
        // analyzed plan, whose Aggregate node separates the select items
        // with no aggregate function — exactly the group keys. One retry
        // with those keys spliced in; an explicit-but-incomplete GROUP BY
        // (MISSING_AGGREGATION) stays an error, like the reference.
        try run(rewritten)
        catch {
          // a correlated LATERAL subquery raises MISSING_GROUP_BY as a
          // plain AnalysisException (no plan attached) — fix the lateral
          // bodies textually and retry
          // ORDER BY over a dedup-suffixed duplicate column (`grp1`
          // after SELECT * across a join of same-named outputs —
          // reference createColumnAlias renames the second `grp` to
          // `grp1`): run without the ORDER BY, rename duplicates, then
          // sort on the renamed frame
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition != null && e.getCondition.startsWith("UNRESOLVED_COLUMN") &&
                """`(\w*?\d)`""".r.findFirstIn(Option(e.getMessage).getOrElse("")).isDefined &&
                topLevelIndexOf(rewritten, Seq("order by")) >= 0 => {
            val at = topLevelIndexOf(rewritten, Seq("order by"))
            val head = rewritten.substring(0, at).trim
            val tail = rewritten.substring(at).trim
              .replaceFirst("(?is)^ORDER\\s+BY\\s+", "")
            val items = tail.split(",").map(_.trim).filter(_.nonEmpty)
            val sorted = dedupOutputColumns(run(head)).orderBy(items.map { it =>
              val desc = it.toLowerCase.endsWith(" desc")
              val nm = it.replaceAll("(?i)\\s+(asc|desc)$", "").trim
              if (desc) col(nm).desc else col(nm).asc
            }.toIndexedSeq: _*)
            sorted
          }
          // WITH + correlated LATERAL whose ON references the lateral's
          // window output: Spark's CTE inlining re-allocates the
          // subquery's exprIds but the LateralJoin condition keeps the
          // originals → MISSING_ATTRIBUTES at analysis
          // (LateralJoinTest:9358 cum-qty sweeps). Materializing each
          // CTE as a temp view compiles every lateral standalone.
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition != null &&
                e.getCondition.startsWith("MISSING_ATTRIBUTES") &&
                parseCteDefs(rewritten)._1.nonEmpty =>
            val (defs, rest) = parseCteDefs(rewritten)
            val rename = materializeCtes(spark, defs)
            run(rename(rest))
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "MISSING_GROUP_BY" &&
                !e.isInstanceOf[org.apache.spark.sql.catalyst.ExtendedAnalysisException] &&
                fixLateralGroupBy(rewritten).isDefined =>
            if (System.getenv("GRAFT_DEBUG") != null)
              System.err.println(s"[graft-dbg] lateral fix: ${fixLateralGroupBy(rewritten).get}")
            run(fixLateralGroupBy(rewritten).get)
          case e: org.apache.spark.sql.catalyst.ExtendedAnalysisException
              if e.getCondition == "MISSING_GROUP_BY" =>
            import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
            import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
            import org.apache.spark.sql.catalyst.plans.logical.Aggregate
            def bareKeys(a: Aggregate) = a.aggregateExpressions
              .filter(_.collectFirst { case ae: AggregateExpression => ae }.isEmpty)
            // implicit grouping can hide in a subquery — fix every mixed
            // zero-key Aggregate in the failed plan, then re-analyze
            def fixPlan(): DataFrame = {
              // transformUpWithSubqueries: the mixed Aggregate can live
              // inside a lateral/scalar subquery expression, which plain
              // transformUp never visits
              val fixed = e.plan.getOrElse(throw e).transformUpWithSubqueries {
                case a: Aggregate if a.groupingExpressions.isEmpty && {
                  val k = bareKeys(a)
                  k.nonEmpty && k.size < a.aggregateExpressions.size
                } => a.copy(groupingExpressions = bareKeys(a).map {
                  case al: Alias => al.child
                  case other => other
                })
              }
              org.apache.spark.sql.classic.GraftBridge.ofRows(spark, fixed)
            }
            // the mixed Aggregate may sit inside a lateral subquery —
            // the textual lateral fix keeps correlation intact, so try
            // it before plan surgery
            def lateralOr(fallback: => DataFrame): DataFrame =
              fixLateralGroupBy(rewritten) match {
                case Some(fixedQ) =>
                  try run(fixedQ)
                  catch { case _: org.apache.spark.sql.AnalysisException => fallback }
                case None => fallback
              }
            if (topLevelIndexOf(rewritten, Seq("group by")) < 0) {
              val keys = e.plan.toSeq.flatMap(_.collectFirst {
                case a: Aggregate =>
                  bareKeys(a).map {
                    case al: Alias => al.child.sql
                    case att: AttributeReference => att.name
                    case other => other.sql
                  }
              }.getOrElse(Seq.empty))
              if (keys.isEmpty) lateralOr(fixPlan())
              else
                try run(insertGroupBy(rewritten, keys))
                catch {
                  // a MIXED item (non-agg column refs beside an
                  // aggregate) survives the key splice — hoist its
                  // naked refs into the keys (reference SqlOptimiser)
                  case e2: org.apache.spark.sql.AnalysisException =>
                    fixMixedAggPlan(spark, e2).getOrElse(lateralOr(fixPlan()))
                }
            } else lateralOr(fixPlan())
          // MIXED select item under implicit grouping (`cast(ts ...) +
          // sum(amount)` with no GROUP BY — SampleByTest compound
          // markout): the reference hoists the item's non-aggregate
          // column refs into the implicit keys. Only without an explicit
          // GROUP BY — an explicit-but-incomplete one errors as there.
          case e: Throwable
              if fixMixedAggPlan(spark, e).isDefined &&
                topLevelIndexOf(rewritten, Seq("group by")) < 0 =>
            fixMixedAggPlan(spark, e).get
          // set-op operands of incompatible types: the reference coerces
          // (rank-promotes arrays, else falls to strings) where Spark
          // refuses — resolve each operand and unify
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "INCOMPATIBLE_COLUMN_TYPE" =>
            unionCoerced(spark, rewritten, run).getOrElse(throw e)
        }
      }
  }

  /** MISSING_AGGREGATION with a plan attached: a select item mixes an
    * aggregate with naked column refs under implicit grouping — the
    * reference hoists those refs into the group keys (SqlOptimiser;
    * SampleByTest `cast(to_timezone(...)...) + sum(amount)` markout).
    * Returns None when the error isn't this shape. */
  private def fixMixedAggPlan(spark: SparkSession, e: Throwable): Option[DataFrame] = e match {
    case ea: org.apache.spark.sql.catalyst.ExtendedAnalysisException
        if ea.getCondition != null &&
          ea.getCondition.startsWith("MISSING_AGGREGATION") && ea.plan.isDefined =>
      import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression => CExpr}
      import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      def nakedRefs(ex: CExpr): Seq[CExpr] = ex match {
        case _: AggregateExpression => Nil
        case ar: AttributeReference => Seq(ar)
        case other => other.children.flatMap(nakedRefs)
      }
      val fixed = ea.plan.get.transformUpWithSubqueries {
        case a: Aggregate =>
          val extra = a.aggregateExpressions.flatMap {
            case al: Alias => nakedRefs(al.child)
            case other => nakedRefs(other)
          }.filterNot(r => a.groupingExpressions.exists(_.semanticEquals(r)))
            .foldLeft(Seq.empty[CExpr]) { (acc, r) =>
              if (acc.exists(_.semanticEquals(r))) acc else acc :+ r
            }
          if (extra.isEmpty) a
          else a.copy(groupingExpressions = a.groupingExpressions ++ extra)
      }
      try Some(org.apache.spark.sql.classic.GraftBridge.ofRows(spark, fixed))
      catch { case _: Exception => None }
    case _ => None
  }

  /** UNION [ALL] operands whose column types Spark cannot unify: the
    * reference rank-promotes arrays (1-D beside 2-D becomes [[...]])
    * and otherwise converts both sides to their text form. Splits on the
    * LAST top-level set op (left-associative, like the reference and
    * standard SQL: `a UNION ALL b UNION c` dedupes everything), evaluates
    * each operand, unifies per column. */
  private def unionCoerced(spark: SparkSession, q: String,
                           run: String => DataFrame): Option[DataFrame] = {
    // `(x union all y) where …` / `SELECT * FROM (x union all y) where…`
    // — the set-op sits one paren level down with a trailing clause:
    // coerce the inner union, materialize, and re-apply the tail
    // (UnionAllCastTest filtered unions)
    val t = {
      val t0 = q.trim
      if ("""(?is)^SELECT\s+\*\s+FROM\s*\(""".r.findFirstIn(t0).isDefined)
        t0.replaceFirst("(?is)^SELECT\\s+\\*\\s+FROM\\s*", "").trim
      else t0
    }
    if (t.startsWith("(")) {
      var depth = 0; var i = 0; var close = -1
      while (i < t.length && close < 0) {
        t.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case '\'' => var k = i + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; i = k
          case _ =>
        }
        i += 1
      }
      val tailOk = close == t.length - 1 ||
        """(?is)^\s*(where|order|limit)\b""".r.findFirstIn(t.substring(close + 1)).isDefined
      if (close > 0 && tailOk) {
        val inner = t.substring(1, close)
        val tail = if (close == t.length - 1) "" else t.substring(close + 1).trim
        return unionCoerced(spark, inner, run).flatMap { df =>
          try {
            if (tail.isEmpty) Some(df)
            else {
              val v = s"__graft_uc_${subqueryCounter.incrementAndGet()}"
              df.createOrReplaceTempView(v)
              Some(run(s"SELECT * FROM $v ${tail}"))
            }
          } catch { case _: Exception => None }
        }
      }
    }
    val at = topLevelLastIndexOf(q, Seq("union"))
    if (at < 0) return None
    val left = q.substring(0, at).trim
    var rest = q.substring(at).trim
    val all = """(?is)^UNION\s+ALL\b""".r.findFirstIn(rest).isDefined
    rest = rest.replaceFirst("(?is)^UNION\\s+(ALL\\s+)?", "")
    import org.apache.spark.sql.types._
    try {
      var l = unionCoerced(spark, left, run).getOrElse(run(left))
      var r = run(rest)
      def depth(dt: DataType): Int = dt match {
        case ArrayType(et, _) => 1 + depth(et); case _ => 0
      }
      def isNumeric(dt: DataType): Boolean = dt.isInstanceOf[NumericType]
      val cols = l.schema.fields.zip(r.schema.fields).zipWithIndex.map {
        case ((lf, rf), i) =>
          if (DataType.equalsStructurally(lf.dataType, rf.dataType, ignoreNullability = true))
            (col(l.columns(i)), col(r.columns(i)))
          else {
            val (dl, dr) = (depth(lf.dataType), depth(rf.dataType))
            if ((dl > 0 || dr > 0) && dl != dr &&
                (dl > 0 || isNumeric(lf.dataType)) &&
                (dr > 0 || isNumeric(rf.dataType))) {
              // rank promotion: wrap the shallower side (a numeric
              // scalar beside an array becomes a 1-element vector —
              // reference UNION promotion, ArrayTest `ARRAY[..] UNION
              // ALL SELECT 3.0` → [3.0]), then cast to the deeper type
              def nullify(dt: DataType): DataType = dt match {
                case ArrayType(et, _) => ArrayType(nullify(et), containsNull = true)
                case other => other
              }
              def wrap(c0: org.apache.spark.sql.Column, times: Int,
                       target: DataType): org.apache.spark.sql.Column =
                when(c0.isNull, lit(null))
                  .otherwise((1 to times).foldLeft(c0)((c, _) => array(c)))
                  .cast(nullify(target)) // a non-nullable-element target
                                         // would reject the wrap of a
                                         // nullable column
              if (dl < dr) (wrap(col(l.columns(i)), dr - dl, rf.dataType),
                col(r.columns(i)))
              else (col(l.columns(i)), wrap(col(r.columns(i)), dl - dr, lf.dataType))
            } else (col(l.columns(i)).cast("string"), col(r.columns(i)).cast("string"))
          }
      }
      val lNames = l.columns
      val l2 = l.select(cols.map(_._1).zip(lNames).map { case (c, n) => c.as(n) }: _*)
      val r2 = r.select(cols.map(_._2).zip(lNames).map { case (c, n) => c.as(n) }: _*)
      Some(if (all) l2.union(r2) else l2.union(r2).distinct())
    } catch { case _: Exception => None }
  }

  /** Implicit GROUP BY inside `LATERAL (SELECT bare, agg(...) ...)`
    * bodies (reference auto-grouping applies in subqueries too;
    * LateralJoinTest). Returns the query with `GROUP BY <bare items>`
    * appended to each mixed lateral body, or None if nothing to fix. */
  private def fixLateralGroupBy(q: String): Option[String] = {
    val kw = java.util.regex.Pattern.compile("(?i)\\bLATERAL\\s*\\(")
    val m = kw.matcher(q)
    var out = q
    var changed = false
    var searchAt = 0
    while (m.find(searchAt)) {
      val open = out.indexOf('(', m.start())
      var depth = 1; var i = open + 1
      while (i < out.length && depth > 0) {
        out.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '\'' => var j = i + 1; while (j < out.length && out.charAt(j) != '\'') j += 1; i = j
          case _ =>
        }
        i += 1
      }
      val close = i - 1
      val body = out.substring(open + 1, close)
      fixOneLateralBody(body) match {
        case Some(fixedBody) =>
          out = out.substring(0, open + 1) + fixedBody + out.substring(close)
          changed = true
          searchAt = open + 1 + fixedBody.length
        case None => searchAt = close
      }
      m.reset(out)
    }
    if (changed) Some(out) else None
  }

  private def fixOneLateralBody(body0: String): Option[String] = {
    // recurse first: an inner LATERAL body may itself need the fix
    val body = fixLateralGroupBy(body0).getOrElse(body0)
    val selM = """(?is)^\s*SELECT\s+(.*?)\s+FROM\s""".r.findFirstMatchIn(body)
      .getOrElse(return if (body != body0) Some(body) else None)
    if (topLevelIndexOf(body, Seq("group by")) >= 0)
      return if (body != body0) Some(body) else None
    val items = splitSelect(selM.group(1)).map(_.trim)
    val bare = items.filter(_.matches("(?is)[\\w.]+(\\s+(AS\\s+)?\\w+)?"))
      .map(_.split("\\s+")(0))
    val hasAgg = items.exists(it =>
      """(?i)\b(count|sum|avg|min|max|first|last|stddev|variance|ksum|nsum)\s*\(""".r
        .findFirstIn(it).isDefined)
    if (bare.isEmpty || !hasAgg || bare.size == items.size)
      return if (body != body0) Some(body) else None
    // insert before a trailing ORDER BY / LIMIT if present
    val tailAt = Seq("order by", "limit")
      .map(k => topLevelIndexOf(body, Seq(k))).filter(_ >= 0).sorted.headOption
    val fixed = tailAt match {
      case Some(p) => body.substring(0, p) + s" GROUP BY ${bare.mkString(", ")} " + body.substring(p)
      case None => body + s" GROUP BY ${bare.mkString(", ")}"
    }
    Some(fixed)
  }

  /** A window query with no ORDER BY returns rows in table order in the
    * reference (cursor preserves scan order); Spark's window exchange
    * re-sorts by the frame spec. Restore the reference order by
    * appending ORDER BY <designated ts> when the query reads one table
    * with a known designated timestamp and has no grouping/set-ops of
    * its own.
    */
  private def windowOrderTail(spark: SparkSession, q0: String): String = {
    var q = q0
    if (!"""(?i)\bover\s*[\s(]""".r.findFirstIn(q).isDefined &&
        !"""(?i)\bwindow\s+\w+\s+as\s*\(\s*\)""".r.findFirstIn(q).isDefined) return q
    // empty window specs run in table order in the reference — spell the
    // designated ts out so order-requiring fns (lead/lag/row_number)
    // resolve (WindowFunctionTest `over()` / `WINDOW w AS ()`)
    if ("""(?i)(\bover\s*\(\s*\))|(\bwindow\s+\w+\s+as\s*\(\s*\))""".r.findFirstIn(q).isDefined) {
      val fromAt0 = topLevelIndexOf(q, Seq("from"))
      val table0 = {
        val t = if (fromAt0 < 0) "" else q.substring(fromAt0 + 4).trim
          .takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
        // a derived-table FROM (e.g. the nested-window hoist) hides the
        // base table — fall back to the innermost FROM's table name
        if (t.nonEmpty) t
        else """(?is)\bFROM\s+([A-Za-z_][\w.]*)""".r.findFirstMatchIn(q)
          .map(_.group(1)).getOrElse("")
      }
      val ts0 =
        if (table0.isEmpty) None
        else SessionCatalog(spark).designatedTs(table0).orElse {
          try {
            val f = spark.table(table0).schema.fields
            if (f.exists(_.name == "ts")) Some("ts") else None
          } catch { case _: Exception => None }
        }
      ts0.foreach { t =>
        // only order-REQUIRING functions get the injected key: an
        // aggregate over () stays a whole-partition window. Value
        // functions (first/last/nth) additionally need the FULL frame —
        // with just ORDER BY their default frame stops at CURRENT ROW,
        // but the reference's `last_value() over ()` reads the whole
        // scan (WindowDecimalFunctionTest)
        // percent_rank/cume_dist/rank/dense_rank over () are all-peers
        // (constant key — DialectRewrites handles them); the rest need a
        // real scan-order key
        val orderFns = "lead|lag|row_number|ntile"
        val valueFns = "first_value|last_value|nth_value"
        q = q.replaceAll(
          s"(?i)\\b($orderFns)\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)" +
            "((?:\\s+(?:ignore|respect)\\s+nulls)?)\\s*over\\s*\\(\\s*\\)",
          s"$$1($$2)$$3 OVER (ORDER BY $t)")
        // whole-result-set value fns: first/nth are TWO_PASS in the
        // reference (the global first/nth value emits on every row —
        // WindowDecimalFunctionTest:4150), but last_value LATCHES on a
        // single BACKWARD pass, so rows after the last non-null see null
        // under IGNORE NULLS (LastValueOverWholeResultSetFunction;
        // WindowDecimalFunctionTest:5681) — current-row-to-end frame.
        q = q.replaceAll(
          "(?i)\\b(first_value|nth_value)\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)" +
            "((?:\\s+(?:ignore|respect)\\s+nulls)?)\\s*over\\s*\\(\\s*\\)",
          s"$$1($$2)$$3 OVER (ORDER BY $t ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
        q = q.replaceAll(
          "(?i)\\b(last_value)\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)" +
            "((?:\\s+(?:ignore|respect)\\s+nulls)?)\\s*over\\s*\\(\\s*\\)",
          s"$$1($$2)$$3 OVER (ORDER BY $t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
        // a named empty window serves aggregates and value functions
        // alike: full frame in scan order keeps both whole-partition —
        // but rank-family USES of it must not inherit the full frame
        // (row_number/rank demand their own default frame; the reference
        // ranks an unordered window with every row a peer —
        // WindowFunctionTest:9389). Rewrite those uses first.
        val emptyWins = """(?i)\bwindow\s+(\w+)\s+as\s*\(\s*\)""".r
          .findAllMatchIn(q).map(_.group(1)).toSeq
        emptyWins.foreach { w =>
          q = q.replaceAll(
            s"(?i)\\b(rank|dense_rank|percent_rank|cume_dist)\\s*\\(\\s*\\)\\s*over\\s+$w\\b",
            "$1() OVER (ORDER BY 1)")
          q = q.replaceAll(
            s"(?i)\\b(row_number|ntile|lead|lag)\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)" +
              s"((?:\\s+(?:ignore|respect)\\s+nulls)?)\\s*over\\s+$w\\b",
            s"$$1($$2)$$3 OVER (ORDER BY $t)")
        }
        q = q.replaceAll("(?i)\\bwindow\\s+(\\w+)\\s+as\\s*\\(\\s*\\)",
          s"WINDOW $$1 AS (ORDER BY $t ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
      }
    }
    if (!"""(?i)\bover\s*[\s(]""".r.findFirstIn(q).isDefined) return q
    // DISTINCT collapses to a set — an appended scan-order ORDER BY
    // would reference columns outside the distinct output
    if ("""(?is)^\s*SELECT\s+DISTINCT\b""".r.findFirstIn(q).isDefined) return q
    if (topLevelIndexOf(q, Seq("order by", "group by", "union", "intersect",
        "except", "sample by", "latest on")) >= 0) return q
    val fromAt = topLevelIndexOf(q, Seq("from"))
    if (fromAt < 0) return q
    // The scan-order ORDER BY belongs to the query LEVEL that runs the
    // window functions. A WITH-CTE whose windows live only in the CTE
    // body (`WITH w AS (SELECT … OVER … ) SELECT count(*) FROM w`) must
    // not order — or tie-break-wrap — an outer projection that may not
    // expose the designated ts (WindowFunctionTest:14232/14246/14261).
    // Check the select head with the WITH-clause prefix stripped; OVERs
    // at ANY paren depth in the outer projection still count (earlier
    // passes wrap them, e.g. CAST(avg(x) OVER (…) AS DECIMAL(38,s))).
    val outerHead = {
      val s = q.substring(0, fromAt)
      var pos = 0
      if ("""(?is)^\s*WITH\b""".r.findFirstIn(s).isDefined) {
        pos = s.toLowerCase.indexOf("with") + 4
        var more = true
        while (more) {
          // identifier [ (cols) ] AS ( body ) [, …]
          val open = s.indexOf('(', pos)
          if (open < 0) { more = false }
          else {
            var depth = 0; var i = open
            var end = -1
            while (i < s.length && end < 0) {
              s.charAt(i) match {
                case '\'' => var j = i + 1; while (j < s.length && s.charAt(j) != '\'') j += 1; i = j
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) end = i
                case _ =>
              }
              i += 1
            }
            if (end < 0) more = false
            else {
              // a column-list paren is followed by AS ( — keep scanning
              val rest = s.substring(end + 1)
              pos = end + 1
              val cont = """(?is)^\s*(,|AS\s*\()""".r.findFirstIn(rest)
              if (cont.isEmpty) more = false
            }
          }
        }
      }
      s.substring(math.min(pos, s.length))
    }
    if ("""(?i)\bover\b""".r.findFirstIn(outerHead).isEmpty) return q
    val table = q.substring(fromAt + 4).trim
      .takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
    if (table.isEmpty) return q
    val ts = SessionCatalog(spark).designatedTs(table)
      .orElse {
        try {
          val f = spark.table(table).schema.fields
          if (f.exists(_.name == "ts")) Some("ts") else None
        } catch { case _: Exception => None }
      }
      .orElse {
        // FROM a WITH-defined CTE: resolve the ts through the CTE's own
        // base table, but only when the CTE visibly carries it
        // (`SELECT *` or the ts named) — WindowFunctionTest:10066
        ("(?is)\\bWITH\\s+" + java.util.regex.Pattern.quote(table) +
          "\\s+AS\\s*\\(([^()]*(?:\\([^()]*\\)[^()]*)*)\\)").r
          .findFirstMatchIn(q).map(_.group(1)).flatMap { body =>
            """(?is)\bFROM\s+([A-Za-z_][\w.]*)""".r.findFirstMatchIn(body)
              .map(_.group(1)).flatMap { inner =>
                SessionCatalog(spark).designatedTs(inner)
                  .filter(t => """(?is)^\s*SELECT\s+\*""".r.findFirstIn(body.trim).isDefined ||
                    body.toLowerCase.contains(t.toLowerCase))
              }
          }
      }
    // Equal designated-ts rows emit in INSERTION order in the reference
    // (scan order of the ts-sorted store is a stable sort —
    // WindowExcludeCurrentRowTest.java:99 emits a,b,a within the tie).
    // ORDER BY ts alone leaves tie order to the window exchange; wrap the
    // base table with a partition-local scan position and break ties on
    // it. Skip when the select list has a `*` (the extra column would
    // leak into the output) or the table carries an alias.
    def withTieBreak(t: String): Option[String] = {
      val afterFrom = q.substring(fromAt + 4)
      val lead = afterFrom.takeWhile(_.isWhitespace)
      val rest = afterFrom.drop(lead.length + table.length)
      val nextWord = rest.trim.takeWhile(c => c.isLetterOrDigit || c == '_')
        .toLowerCase
      val stopWords = Set("", "where", "window", "limit", "as")
      val selHead = q.substring(0, fromAt)
      // a `*` only blocks the wrap as a select ITEM (`*` / `t.*`), not
      // inside a call like count(*)
      def topItems(s: String): Seq[String] = {
        val out = scala.collection.mutable.Buffer[String]()
        var depth = 0; var start = 0; var i = 0
        while (i < s.length) {
          s.charAt(i) match {
            case '\'' => var j = i + 1; while (j < s.length && s.charAt(j) != '\'') j += 1; i = j
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
            case _ =>
          }
          i += 1
        }
        out += s.substring(start)
        out.toSeq
      }
      val starItem = """(?is)^\s*SELECT\s+(.*)$""".r.findFirstMatchIn(selHead)
        .exists(m => topItems(m.group(1)).exists { it =>
          val s = it.trim; s == "*" || s.endsWith(".*")
        })
      if (starItem || !stopWords(nextWord) || nextWord == "as") None
      else Some(q.substring(0, fromAt) +
        s"FROM (SELECT *, monotonically_increasing_id() AS __graft_pos FROM $table) AS $table" +
        rest)
    }
    ts match {
      case Some(t) if """(?i)\blimit\b""".r.findFirstIn(q).isEmpty =>
        withTieBreak(t) match {
          case Some(wq) => s"$wq ORDER BY $t, __graft_pos"
          case None => s"$q ORDER BY $t"
        }
      case Some(t) =>
        topLevelIndexOf(q, Seq("limit")) match {
          case -1 => q
          case at => q.substring(0, at) + s"ORDER BY $t " + q.substring(at)
        }
      case None => q
    }
  }

  /** Dialect operators inside FROM/JOIN subqueries (reference nests its
    * model tree freely; our op forms are top-level): materialize the
    * inner query through the full dialect pipeline as a temp view and
    * substitute the view name. Correlated subqueries fail the inner
    * compile and stay untouched.
    */
  private val subqueryCounter = new java.util.concurrent.atomic.AtomicLong()

  /** `PIVOT (... FOR c IN (SELECT ...))` — evaluate the in-list subquery
    * now and splice its values as literals (reference PivotTest: the
    * pivot column set is resolved at compile time). */
  private def expandPivotSubqueries(spark: SparkSession, q0: String): String = {
    if (!"""(?i)\bPIVOT\b""".r.findFirstIn(q0).isDefined) return q0
    // `FOR c IN (SELECT …)` plus FOLLOW-ON clauses of a multi-FOR pivot
    // (`FOR a IN (SELECT …) b IN (SELECT …)`) — the optional-FOR branch
    // only engages right after a ')' (the previous clause's close), so
    // ordinary WHERE … IN (SELECT …) predicates stay untouched
    val pat = java.util.regex.Pattern.compile(
      "(?is)((?:\\bFOR|\\))\\s+[\\w.]+\\s+IN\\s*)\\(\\s*(SELECT\\b(?:[^()]|\\([^()]*\\))*?)\\s*\\)")
    var s = q0
    var m = pat.matcher(s)
    var guard = 0
    while (m.find() && guard < 8) {
      guard += 1
      val vals =
        try sql(spark, m.group(2)).collect().toSeq.map(_.get(0)).distinct
        catch { case _: Exception => return s }
      def tsLit(ldt: java.time.LocalDateTime, msec: Boolean): String = {
        // DATE dimensions (ntz carrier) label in the reference's msec
        // pattern, TIMESTAMP ones in the µs pattern (PivotTest)
        val p = if (msec) "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
                else "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
        "'" + ldt.format(java.time.format.DateTimeFormatter.ofPattern(p)) + "'"
      }
      val lits = vals.map {
        case null => "NULL"
        case x: String => "'" + x.replace("'", "''") + "'"
        // timestamp dimension values become both the comparison literal
        // and the column name
        case t: java.sql.Timestamp => tsLit(t.toLocalDateTime, msec = false)
        case t: java.time.LocalDateTime => tsLit(t, msec = true)
        case x => x.toString
      }
      s = s.substring(0, m.start()) + m.group(1) + "(" + lits.mkString(", ") + ")" +
        s.substring(m.end())
      m = pat.matcher(s)
    }
    s
  }

  /** EMA/VWEMA window spellings (`avg(x, 'second', 1[, vol]) over`)
    * only lower at top level — a subquery holding one must pre-plan. */
  private val EmaSubRe =
    """(?i)\bavg\s*\([^()]*,\s*'[a-z]+'\s*,[^()]*\)\s*over\b""".r

  /** `CREATE TABLE t AS (sel), cast(c AS T), index(c), ...` — fold the
    * cast list into the select (preserving column order) and drop the
    * index hints, before the cast macro passes mangle the tail. */
  private def normalizeCtasCastTail(spark: SparkSession, q0: String): String = {
    if (!"""(?is)^\s*CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\b""".r.findFirstIn(q0).isDefined ||
        !"""(?is)\)\s*,\s*(?:INDEX|CAST)\s*\(""".r.findFirstIn(q0).isDefined) return q0
    val asM = """(?is)\bAS\s*\(""".r.findFirstMatchIn(q0).getOrElse(return q0)
    val open = q0.indexOf('(', asM.start)
    var depth = 0; var i = open; var close = -1
    while (i < q0.length && close < 0) {
      q0.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case '\'' => var k = i + 1; while (k < q0.length && q0.charAt(k) != '\'') k += 1; i = k
        case _ =>
      }
      i += 1
    }
    if (close < 0) return q0
    val inner = q0.substring(open + 1, close)
    var rest = q0.substring(close + 1)
    val casts = scala.collection.mutable.LinkedHashMap[String, String]()
    var changed = true
    while (changed) {
      changed = false
      val cm = """(?is)^\s*,\s*CAST\s*\(\s*(\w+)\s+AS\s+([\w()\[\]\s]+?)\s*\)""".r
        .findFirstMatchIn(rest)
      val im = """(?is)^\s*,\s*INDEX\s*\((?:[^()]|\([^()]*\))*\)""".r.findFirstMatchIn(rest)
      (cm, im) match {
        case (Some(m), _) if im.forall(_.start >= m.start) =>
          casts(m.group(1).toLowerCase) = m.group(2).trim
          rest = rest.substring(m.end); changed = true
        case (_, Some(m)) =>
          rest = rest.substring(m.end); changed = true
        case _ =>
      }
    }
    if (casts.isEmpty &&
        !"""(?is)^\s*(?:TIMESTAMP\s*\(|PARTITION\b|TTL\b|WAL\b|BYPASS\b|WITH\b|DEDUP\b|IN\s+VOLUME\b|$)""".r
          .findFirstIn(rest.trim + (if (rest.trim.isEmpty) "$" else "")).isDefined) return q0
    val newInner =
      if (casts.isEmpty) inner
      else try {
        val cols = sqlBound(spark, inner, Map.empty).columns
        val items = cols.map { c =>
          casts.get(c.toLowerCase) match {
            case Some(t) => s"CAST($c AS $t) AS $c"
            case None => s"`$c`"
          }
        }
        s"SELECT ${items.mkString(", ")} FROM ($inner) __ctas_cast"
      } catch { case _: Exception => return q0 }
    q0.substring(0, open + 1) + newInner + ")" + rest
  }

  /** `t1 EXCEPT t2` / `(t1 UNION ALL t2) WHERE ...` — bare table names
    * as set-op operands become `SELECT * FROM t` (reference SqlParser
    * treats any table name as a query). */
  private def expandBareSetOperands(spark: SparkSession, q0: String): String = {
    if (!"""(?i)\b(union|intersect|except)\b""".r.findFirstIn(q0).isDefined) return q0
    def tableExists(n: String): Boolean =
      try spark.catalog.tableExists(n) catch { case _: Exception => false }
    def fixRegion(t: String): String = {
      val opPat = "(?is)\\b(union\\s+all|union|intersect\\s+all|intersect|except\\s+all|except)\\b"
      // split on top-level set-op keywords
      val parts = scala.collection.mutable.Buffer[String]()
      val ops = scala.collection.mutable.Buffer[String]()
      var rest = t
      var at = topLevelIndexOf(rest, Seq("union", "intersect", "except"))
      if (at < 0) return t
      while (at >= 0) {
        parts += rest.substring(0, at)
        val m = opPat.r.findFirstMatchIn(rest.substring(at)).get
        ops += m.group(1)
        rest = rest.substring(at + m.end)
        at = topLevelIndexOf(rest, Seq("union", "intersect", "except"))
      }
      parts += rest
      // a trailing clause on the last operand stays outside the expansion
      val fixedParts = parts.zipWithIndex.map { case (p, i) =>
        val st = p.trim
        val m = """(?is)^([A-Za-z_][\w.]*)(\s+(?:order|where|limit|sample|latest)\b.*)?$""".r
          .findFirstMatchIn(st)
        m match {
          case Some(mm) if !StatementKeywords(mm.group(1).toLowerCase) &&
              tableExists(mm.group(1)) =>
            s" SELECT * FROM ${mm.group(1)}" + Option(mm.group(2)).getOrElse("") + " "
          case _ => p
        }
      }
      fixedParts.zip(ops :+ "").map { case (p, o) => p + (if (o.nonEmpty) s" $o " else "") }
        .mkString
    }
    // recurse into every parenthesized region (a bare-table set operand
    // may sit inside a FROM subquery or CTE body — UnionTest
    // `select t from (select t from x union all y)`), then fix the
    // current level
    def walk(t: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (c == '\'') {
          var j = i + 1
          while (j < t.length && t.charAt(j) != '\'') j += 1
          sb.append(t.substring(i, math.min(j + 1, t.length))); i = j + 1
        } else if (c == '(') {
          var depth = 1; var j = i + 1
          while (j < t.length && depth > 0) {
            t.charAt(j) match {
              case '\'' => var k = j + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; j = k + 1
              case '(' => depth += 1; j += 1
              case ')' => depth -= 1; j += 1
              case _ => j += 1
            }
          }
          val inner = t.substring(i + 1, math.max(i + 1, j - 1))
          sb.append('(').append(walk(inner)).append(')')
          i = j
        } else { sb.append(c); i += 1 }
      }
      fixRegion(sb.toString)
    }
    walk(q0)
  }

  /** `… LATEST ON ts PARTITION BY k SAMPLE BY …`: the reference applies
    * the latest-row selection FIRST and samples its result
    * (SqlCodeGeneratorTest:5591). Push the latest-on into a subquery so
    * the SAMPLE BY forms see a plain relation. */
  private val LatestThenSampleRe =
    ("""(?is)^SELECT\s+(.*?)\s+FROM\s+([\w."]+|\((?:[^()']|'[^']*'|\((?:[^()']|'[^']*')*\))*\))""" +
      """(?:\s+WHERE\s+(.*?))?\s+LATEST\s+ON\s+([\w.]+)\s+PARTITION\s+BY\s+([\w.,\s]+?)""" +
      """\s+(SAMPLE\s+BY\s+.*)$""").r
  private def rewriteLatestThenSampleBy(q: String): String = q match {
    case LatestThenSampleRe(sel, rel, where, ts, keys, tail) =>
      val w = Option(where).map(x => s" WHERE $x").getOrElse("")
      s"SELECT $sel FROM (SELECT * FROM $rel$w LATEST ON $ts PARTITION BY ${keys.trim}) $tail"
    case _ => q
  }

  /** Top-level set operations whose operands hold dialect operators the
    * plain-SQL path cannot lower (op-form SAMPLE BY, LATEST ON,
    * time-series joins): evaluate each operand through the full dialect
    * pipeline into a temp view and reassemble a plain positional set
    * operation (SqlCodeGeneratorTest:8264 — SAMPLE BY UNION ALL branch).
    * A trailing ORDER BY/LIMIT on the last operand binds to the whole
    * result, as in the reference's model. */
  private val SetOpDialectOpRe =
    """(?i)\b(SAMPLE\s+BY|LATEST\s+(?:ON|BY)|ASOF\s+JOIN|LT\s+JOIN|SPLICE\s+JOIN|WINDOW\s+JOIN|HORIZON\s+JOIN)\b""".r
  /** A top-level WINDOW JOIN whose master side is itself a join
    * (`t0 LEFT JOIN (...) l1 WINDOW JOIN q ...` — the shape a
    * decorrelated lateral leaves behind, LateralJoinTest:2549):
    * materialize the composite master into a temp view carrying the
    * first base table's designated ts, strip the master aliases from
    * the outer clauses, and let the plain windowJoinForm take over. */
  private def materializeWindowJoinMaster(spark: SparkSession, q0: String): String = {
    val wjAt = topLevelIndexOf(q0, Seq("window join"))
    if (wjAt < 0) return q0
    val fromAt = topLevelIndexOf(q0, Seq("from"))
    if (fromAt < 0 || fromAt > wjAt) return q0
    val rel = q0.substring(fromAt + 4, wjAt).trim
    if (topLevelIndexOf(rel, Seq("join")) < 0) return q0
    // alias names defined by the master relation (tables + derived)
    val aliases = scala.collection.mutable.Set[String]()
    """(?is)(?:^|\bjoin\s+|\(\)\s+)([A-Za-z_][\w.]*)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?""".r
      .findAllMatchIn(rel).foreach { m =>
        aliases += m.group(1).split('.').last.toLowerCase
        Option(m.group(2)).map(_.toLowerCase)
          .filterNot(Set("on", "left", "join", "where", "window", "cross", "inner"))
          .foreach(aliases += _)
      }
    """(?is)\)\s*(?:as\s+)?([A-Za-z_]\w*)""".r.findAllMatchIn(rel)
      .foreach(m => aliases += m.group(1).toLowerCase)
    val firstTable = rel.takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
    if (firstTable.isEmpty) return q0
    val v = s"__graft_wjm_${subqueryCounter.incrementAndGet()}"
    try {
      sqlBound(spark, s"SELECT * FROM $rel", Map.empty).createOrReplaceTempView(v)
    } catch { case _: Exception => return q0 }
    val cat = SessionCatalog(spark)
    cat.designatedTs(firstTable).foreach(t => cat.update(v)(_.copy(designatedTs = Some(t))))
    val head = q0.substring(0, fromAt)
    val tail = q0.substring(wjAt)
    val stripped = aliases.foldLeft(head) { (acc, a) =>
      acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\.", "")
    }
    // the ORDER/WHERE tail after the window join clause may also
    // reference master aliases — strip those too, but leave the slave's
    val tailStripped = aliases.foldLeft(tail) { (acc, a) =>
      acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\.", "")
    }
    s"${stripped}FROM $v $tailStripped"
  }

  /** A WITH-CTE statement whose trailing SELECT carries a dialect
    * operator (SAMPLE BY / LATEST ON / time-series joins): the op form
    * parsers don't speak WITH, so materialize each CTE definition into
    * a temp view (through the full dialect pipeline) and hand the bare
    * trailing SELECT onward (SqlCodeGeneratorTest:707 WITH + SAMPLE BY
    * ALIGN TZ). Skips names that would clobber an existing relation. */
  /** Parse a statement's WITH prologue: Seq((name, body)) plus the
    * trailing statement. Empty defs when the text isn't WITH-prefixed. */
  private def parseCteDefs(q0: String): (Seq[(String, String)], String) = {
    val t = q0.trim
    if (!"""(?is)^\s*WITH\s""".r.findFirstIn(t).isDefined) return (Seq.empty, t)
    var pos = t.toLowerCase.indexOf("with") + 4
    val defs = scala.collection.mutable.Buffer[(String, String)]()
    val defRe = java.util.regex.Pattern.compile("(?is)\\s*,?\\s*([A-Za-z_]\\w*)\\s+AS\\s*\\(")
    var parsing = true
    while (parsing) {
      val dm = defRe.matcher(t)
      dm.region(pos, t.length)
      if (dm.lookingAt()) {
        var depth = 0; var j = dm.end() - 1; var close = -1
        while (j < t.length && close < 0) {
          t.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = j
            case '\'' => var k = j + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; j = k
            case _ =>
          }
          j += 1
        }
        if (close < 0) parsing = false
        else { defs += ((dm.group(1), t.substring(dm.end(), close))); pos = close + 1 }
      } else parsing = false
    }
    if (defs.isEmpty) (Seq.empty, t) else (defs.toSeq, t.substring(pos).trim)
  }

  /** Materialize a statement's CTEs as temp views under UNIQUE
    * __graft_cte names (a view under the user's CTE name would leak
    * into later statements — cross-statement contamination — and
    * dropping it eagerly races concurrent statements on the shared
    * session). Returns a rewriter that renames CTE references in any
    * trailing statement text; later defs' bodies see earlier renames. */
  private val cteViewCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Rename CTE references `from` → `to` in relation position only: a
    * blind word-boundary replace also renames identical OUTPUT ALIASES
    * (`WITH x AS (…) SELECT a AS x FROM x` must keep column name `x`).
    * A token is renamed when it follows FROM/JOIN/INTO/UPDATE/TABLE, a
    * comma inside a FROM relation list, or is a qualified ref `x.col`.
    * Quoted text is skipped; paren depth save/restores the FROM-list
    * state so subqueries don't leak it. */
  private[graft] def renameRelationRefs(text: String, from: String, to: String): String = {
    val fromLower = from.toLowerCase
    val clauseEnders = Set("where", "group", "order", "having", "limit",
      "window", "union", "intersect", "except", "select", "on", "using",
      "sample", "latest", "when", "set", "values", "partition")
    val sb = new StringBuilder
    val n = text.length
    var i = 0
    var prevTok = ""
    var inFrom = false
    val saved = scala.collection.mutable.Stack[Boolean]()
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val start = i; i += 1
        while (i < n && text.charAt(i) != c) i += 1
        if (i < n) i += 1
        sb.append(text.substring(start, i))
        prevTok = "'"
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (text.charAt(i).isLetterOrDigit || text.charAt(i) == '_')) i += 1
        val tok = text.substring(start, i)
        val lower = tok.toLowerCase
        val prevDot = start > 0 && text.charAt(start - 1) == '.'
        val qualified = i < n && text.charAt(i) == '.'
        val relPos = prevTok == "from" || prevTok == "join" ||
          prevTok == "into" || prevTok == "update" || prevTok == "table" ||
          (prevTok == "," && inFrom)
        if (lower == fromLower && !prevDot && (relPos || qualified)) sb.append(to)
        else sb.append(tok)
        if (lower == "from") inFrom = true
        else if (clauseEnders(lower)) inFrom = false
        prevTok = lower
      } else {
        if (c == '(') { saved.push(inFrom); inFrom = false; prevTok = "(" }
        else if (c == ')') { inFrom = if (saved.nonEmpty) saved.pop() else false; prevTok = ")" }
        else if (c == ',') prevTok = ","
        else if (!c.isWhitespace) prevTok = c.toString
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private def materializeCtes(spark: SparkSession,
                              defs: Seq[(String, String)]): String => String = {
    val renames = scala.collection.mutable.LinkedHashMap[String, String]()
    def applyRenames(text: String): String =
      renames.foldLeft(text) { case (acc, (from, to)) =>
        renameRelationRefs(acc, from, to)
      }
    defs.foreach { case (n, body) =>
      val unique = s"__graft_cte_${cteViewCounter.incrementAndGet()}_$n"
      sqlBound(spark, applyRenames(body), Map.empty).createOrReplaceTempView(unique)
      renames.put(n, unique)
    }
    applyRenames
  }

  private def materializeWithCtesForOps(spark: SparkSession, q0: String): String = {
    val (defs, rest) = parseCteDefs(q0)
    if (defs.isEmpty) return q0
    if (topLevelIndexOf(rest, Seq("sample by", "latest on", "asof join",
        "lt join", "splice join", "window join", "horizon join")) < 0) return q0
    if (defs.exists { case (n, _) =>
        try spark.catalog.tableExists(n) catch { case _: Exception => false } })
      return q0
    try {
      val rename = materializeCtes(spark, defs)
      rename(rest)
    } catch { case _: Exception => q0 }
  }

  /** The reference REJECTS an equi-join whose key columns are DECIMALs
    * of different declared precision/scale (no implicit decimal
    * rescale in the join key path — JoinTest decimal keys). Spark would
    * happily widen both sides; match the rejection. */
  private def rejectDecimalScaleMismatchJoin(cat: SessionCatalog, q0: String): Unit = {
    if (!"""(?i)\bjoin\b""".r.findFirstIn(q0).isDefined) return
    def declOf(t: String, c: String): Option[String] =
      cat.get(t).flatMap(_.declaredType(c)).map(_.replaceAll("\\s+", ""))
    """(?i)\bon\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)""".r.findAllMatchIn(q0).foreach { m =>
      (declOf(m.group(1), m.group(2)), declOf(m.group(3), m.group(4))) match {
        case (Some(d1), Some(d2))
            if d1.startsWith("DECIMAL") && d2.startsWith("DECIMAL") && d1 != d2 =>
          throw new IllegalArgumentException(
            s"join key type mismatch [${m.group(1)}.${m.group(2)}: $d1, " +
              s"${m.group(3)}.${m.group(4)}: $d2]")
        case _ => ()
      }
    }
  }

  /** FULL JOIN row order in the reference streams the MASTER rows in
    * table order, then the unmatched slave rows (hash outer join cursor
    * `join/HashOuterJoin*` drains build-side leftovers last). Spark's
    * full join emits shuffle order. For a top-level two-table FULL JOIN
    * with no ORDER BY, impose (master-present, master-pos, slave-pos).
    * Parity-surface only — real queries order explicitly. */
  private def fullJoinAppearanceOrder(spark: SparkSession, q0: String): String = {
    if (topLevelIndexOf(q0, Seq("order by", "limit", "union", "intersect",
        "except", "group by", "sample by", "latest on", "where")) >= 0) return q0
    if (!"""(?i)\bfull\s+(outer\s+)?join\b""".r.findFirstIn(q0).isDefined) return q0
    val m = ("""(?is)^\s*SELECT\s+(.*?)\s+FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(?!full\b)(\w+))?""" +
      """\s+FULL\s+(?:OUTER\s+)?JOIN\s+([\w.]+)(?:\s+(?:AS\s+)?(?!on\b)(\w+))?""" +
      """\s+ON\s+(.*?)\s*$""").r.findFirstMatchIn(q0).getOrElse(return q0)
    val (sel, lt, rt, cond) = (m.group(1), m.group(2), m.group(4), m.group(6))
    val la = Option(m.group(3)).getOrElse(lt)
    val ra = Option(m.group(5)).getOrElse(rt)
    try {
      val lv = s"__graft_fjl_${subqueryCounter.incrementAndGet()}"
      val rv = s"__graft_fjr_${subqueryCounter.incrementAndGet()}"
      val ldf = sqlBound(spark, s"SELECT * FROM $lt", Map.empty)
      val rdf = sqlBound(spark, s"SELECT * FROM $rt", Map.empty)
      ldf.withColumn("__graft_lp", monotonically_increasing_id()).createOrReplaceTempView(lv)
      rdf.withColumn("__graft_rp", monotonically_increasing_id()).createOrReplaceTempView(rv)
      val items =
        if (sel.trim == "*")
          (ldf.columns.map(c => s"$la.`$c`") ++ rdf.columns.map(c => s"$ra.`$c`")).mkString(", ")
        else sel
      s"SELECT $items FROM $lv AS $la FULL JOIN $rv AS $ra ON $cond " +
        s"ORDER BY ($la.__graft_lp IS NULL), $la.__graft_lp, $ra.__graft_rp"
    } catch { case _: Exception => q0 }
  }

  /** UNION (distinct) emits rows in FIRST-APPEARANCE order in the
    * reference (the union cursor streams A, then B's not-yet-seen rows
    * — `union/UnionRecordCursor`); Spark's distinct reshuffles. For a
    * top-level UNION chain with no ORDER BY/LIMIT and no mixed set-ops,
    * lower to union-all + per-group first-row keep ordered by a
    * concatenation-position id. Parity-surface only (dialect path). */
  private def unionFirstAppearance(spark: SparkSession, q0: String): String = {
    if (topLevelIndexOf(q0, Seq("order by", "limit", "intersect", "except",
        "sample by", "latest on")) >= 0) return q0
    if (!q0.trim.toLowerCase.startsWith("select")) return q0
    // locate top-level UNIONs; bail on UNION ALL (already ordered)
    val lower = blankQuotedText(q0).toLowerCase
    var i = 0; var depth = 0
    val unionAts = scala.collection.mutable.Buffer[Int]()
    while (i < lower.length) {
      lower.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'u' if depth == 0 && lower.startsWith("union", i) &&
            (i == 0 || !lower.charAt(i - 1).isLetterOrDigit) &&
            (i + 5 >= lower.length || !lower.charAt(i + 5).isLetterOrDigit) =>
          unionAts += i
        case _ =>
      }
      i += 1
    }
    if (unionAts.isEmpty) return q0
    if (unionAts.exists(a => lower.substring(a + 5).trim.startsWith("all")))
      return q0
    try {
      val allQ = unionAts.reverse.foldLeft(q0) { (s, at) =>
        s.substring(0, at) + "UNION ALL" + s.substring(at + 5)
      }
      val v = s"__graft_ufa_${subqueryCounter.incrementAndGet()}"
      sqlBound(spark, allQ, Map.empty)
        .withColumn("__graft_ap", monotonically_increasing_id())
        .createOrReplaceTempView(v)
      val cols = spark.table(v).columns.filterNot(_ == "__graft_ap")
        .map(c => s"`$c`")
      s"SELECT ${cols.mkString(", ")} FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY ${cols.mkString(", ")} ORDER BY __graft_ap) AS __graft_rn " +
        s"FROM $v) WHERE __graft_rn = 1 ORDER BY __graft_ap"
    } catch { case _: Exception => q0 }
  }

  private def blankQuotedText(text: String): String = {
    val sb = new StringBuilder(text)
    var i = 0
    while (i < sb.length) {
      if (sb.charAt(i) == '\'') {
        var j = i + 1
        while (j < sb.length && sb.charAt(j) != '\'') { sb.setCharAt(j, ' '); j += 1 }
        i = j + 1
      } else i += 1
    }
    sb.toString
  }

  private def materializeSetOpDialectOperands(spark: SparkSession, q0: String): String = {
    val q = q0.trim
    if (SetOpDialectOpRe.findFirstIn(q).isEmpty) return q0
    if (!firstWord(q).equalsIgnoreCase("select")) return q0
    var at = topLevelIndexOf(q, Seq("union", "intersect", "except"))
    if (at < 0) return q0
    val opPat = "(?is)^(union\\s+all|union|intersect\\s+all|intersect|except\\s+all|except)\\b".r
    val parts = scala.collection.mutable.Buffer[String]()
    val ops = scala.collection.mutable.Buffer[String]()
    var rest = q
    while (at >= 0) {
      parts += rest.substring(0, at)
      val m = opPat.findFirstMatchIn(rest.substring(at)).get
      ops += m.group(1)
      rest = rest.substring(at + m.end)
      at = topLevelIndexOf(rest, Seq("union", "intersect", "except"))
    }
    var tail = ""
    val tailAt = topLevelIndexOf(rest, Seq("order by", "limit"))
    if (tailAt >= 0) { tail = rest.substring(tailAt); rest = rest.substring(0, tailAt) }
    parts += rest
    if (!parts.exists(p => SetOpDialectOpRe.findFirstIn(p).isDefined)) return q0
    try {
      val views = parts.map { op =>
        val v = s"__graft_setop_${subqueryCounter.incrementAndGet()}"
        sqlBound(spark, op.trim, Map.empty).createOrReplaceTempView(v)
        v
      }
      views.zip(ops.toSeq :+ "").map { case (v, o) =>
        s"SELECT * FROM $v" + (if (o.nonEmpty) s" $o " else " ")
      }.mkString + tail
    } catch {
      case e: Exception
          if Option(e.getMessage).exists(_.contains("TABLE_OR_VIEW_NOT_FOUND")) =>
        throw e
      case e: Exception =>
        if (System.getenv("GRAFT_DEBUG") != null)
          System.err.println(s"[graft-dbg] setop materialize failed: $e")
        q0
    }
  }

  private def materializeDialectSubqueries(spark: SparkSession, q: String): String = {
    if (!("""(?i)\b(WINDOW\s+JOIN|ASOF\s+JOIN|LT\s+JOIN|SPLICE\s+JOIN|HORIZON\s+JOIN|SAMPLE\s+BY|LATEST\s+(?:ON|BY))\b|(?i)\bSHOW\s+\w""".r
        .findFirstIn(q).isDefined || EmaSubRe.findFirstIn(q).isDefined)) return q
    val lower = q.toLowerCase
    val out = new StringBuilder
    var i = 0
    var changed = false
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') {
        var j = i + 1
        while (j < q.length && q.charAt(j) != '\'') j += 1
        out.append(q.substring(i, math.min(j + 1, q.length))); i = j + 1
      } else if (c == '(') {
        // positions whose parenthesized SELECT may hold a dialect op:
        // FROM/JOIN subqueries, CTE bodies (`WITH x AS (...)`), set-op
        // operands, and a statement-leading paren. CREATE/INSERT keep
        // their AS-bodies (statementForm handles those itself).
        val before = out.toString.trim.toLowerCase
        val stmtKw = firstWord(q)
        val fromPos = before.endsWith("from") || before.endsWith("join")
        val wrapPos = !fromPos && stmtKw != "create" && stmtKw != "insert" &&
          (before.endsWith(" as") || before.isEmpty ||
            before.endsWith("union") || before.endsWith("all") ||
            before.endsWith("intersect") || before.endsWith("except") ||
            // scalar / IN-list subquery positions: `ts = (select … asof
            // join …)`, `x not in (select … horizon join …)` — the
            // dialect op only lowers at top level, so pre-plan here too
            // (reference SqlCodeGenerator.generateJoins handles joins in
            // any subquery position)
            """(?:\bin|\bexists|=|<|>|!=|<>)$""".r.findFirstIn(before).isDefined)
        var depth = 1
        var j = i + 1
        while (j < q.length && depth > 0) {
          q.charAt(j) match {
            case '\'' => var k = j + 1; while (k < q.length && q.charAt(k) != '\'') k += 1; j = k + 1
            case '(' => depth += 1; j += 1
            case ')' => depth -= 1; j += 1
            case _ => j += 1
          }
        }
        val inner = q.substring(i + 1, math.max(i + 1, j - 1))
        val hasDialectOp =
          """(?i)\b(WINDOW\s+JOIN|ASOF\s+JOIN|LT\s+JOIN|SPLICE\s+JOIN|HORIZON\s+JOIN|SAMPLE\s+BY|LATEST\s+(?:ON|BY))\b|(?i)\bSHOW\s+\w""".r
            .findFirstIn(inner).isDefined || EmaSubRe.findFirstIn(inner).isDefined
        val innerHead = inner.trim.toLowerCase
        if ((fromPos || wrapPos) &&
            (innerHead.startsWith("select") || innerHead.startsWith("show")) && hasDialectOp) {
          try {
            val view = s"__graft_sub_${subqueryCounter.incrementAndGet()}"
            sqlBound(spark, inner, Map.empty).createOrReplaceTempView(view)
            // CTE bodies / set-op operands must stay parenthesized
            out.append(if (fromPos) view else s"(SELECT * FROM $view)")
            changed = true
          } catch {
            // a missing table fails the outer query identically —
            // propagate so callers classify it as such rather than as
            // a parse error over the unmaterialized dialect text
            case e: Exception
                if Option(e.getMessage).exists(_.contains("TABLE_OR_VIEW_NOT_FOUND")) =>
              throw e
            case e: Exception =>
              if (System.getenv("GRAFT_DEBUG") != null)
                System.err.println(s"[graft-dbg] sub materialize failed: $e")
              out.append(q.substring(i, j))
          }
        } else out.append(q.substring(i, j))
        i = j
      } else { out.append(c); i += 1 }
    }
    if (changed) out.toString else q
  }

  /** `expr AS 'alias'` — single-quoted aliases are identifier quotes in
    * the reference; Spark wants backticks. Quote-aware sequential scan:
    * the AS keyword is only recognized in code context, so a string
    * literal containing " AS " (e.g. concat('x AS ', y)) is copied
    * through untouched. */
  private[graft] def rewriteQuotedAliases(q: String): String = {
    val sb = new StringBuilder
    var i = 0
    def copyLiteral(): Unit = { // cursor on the opening quote
      val start = i; i += 1
      var closed = false
      while (i < q.length && !closed) {
        if (q.charAt(i) == '\'') {
          if (i + 1 < q.length && q.charAt(i + 1) == '\'') i += 2
          else { closed = true; i += 1 }
        } else i += 1
      }
      sb.append(q.substring(start, i))
    }
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') copyLiteral()
      else if ((c == 'a' || c == 'A') && i + 2 < q.length &&
          (q.charAt(i + 1) == 's' || q.charAt(i + 1) == 'S') &&
          q.charAt(i + 2).isWhitespace &&
          (i == 0 || (!Character.isLetterOrDigit(q.charAt(i - 1)) &&
            q.charAt(i - 1) != '_'))) {
        var j = i + 2
        while (j < q.length && q.charAt(j).isWhitespace) j += 1
        if (j < q.length && q.charAt(j) == '\'') {
          var k = j + 1
          var closed = false
          val alias = new StringBuilder
          while (k < q.length && !closed) {
            if (q.charAt(k) == '\'') {
              if (k + 1 < q.length && q.charAt(k + 1) == '\'') { alias.append('\''); k += 2 }
              else { closed = true; k += 1 }
            } else { alias.append(q.charAt(k)); k += 1 }
          }
          if (closed && alias.nonEmpty) {
            sb.append(q.substring(i, j)).append('`').append(alias).append('`')
            i = k
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Index of the first occurrence of any keyword at paren depth 0 and
    * outside single-quoted strings, case-insensitive; -1 if absent.
    */
  private def topLevelIndexOf(q: String, keywords: Seq[String]): Int = {
    val lower = q.toLowerCase
    var i = 0
    var depth = 0
    while (i < lower.length) {
      lower.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '\'' =>
          var j = i + 1
          var end = -1
          while (j < lower.length && end < 0) {
            if (lower.charAt(j) == '\'') {
              if (j + 1 < lower.length && lower.charAt(j + 1) == '\'') j += 2 else end = j
            } else j += 1
          }
          i = if (end < 0) lower.length else end + 1
        case _ =>
          if (depth == 0) {
            val hit = keywords.exists { k =>
              lower.startsWith(k, i) &&
                (i == 0 || !Character.isLetterOrDigit(lower.charAt(i - 1))) &&
                (i + k.length >= lower.length ||
                  !Character.isLetterOrDigit(lower.charAt(i + k.length)))
            }
            if (hit) return i
          }
          i += 1
      }
    }
    -1
  }

  /** Like [[topLevelIndexOf]] but returns the LAST occurrence; -1 if
    * absent. Used to fold set-op chains left-associatively. */
  private def topLevelLastIndexOf(q: String, keywords: Seq[String]): Int = {
    val lower = q.toLowerCase
    var i = 0
    var depth = 0
    var last = -1
    while (i < lower.length) {
      lower.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '\'' =>
          var j = i + 1
          var end = -1
          while (j < lower.length && end < 0) {
            if (lower.charAt(j) == '\'') {
              if (j + 1 < lower.length && lower.charAt(j + 1) == '\'') j += 2 else end = j
            } else j += 1
          }
          i = if (end < 0) lower.length else end + 1
        case _ =>
          if (depth == 0) {
            val hit = keywords.exists { k =>
              lower.startsWith(k, i) &&
                (i == 0 || !Character.isLetterOrDigit(lower.charAt(i - 1))) &&
                (i + k.length >= lower.length ||
                  !Character.isLetterOrDigit(lower.charAt(i + k.length)))
            }
            if (hit) last = i
          }
          i += 1
      }
    }
    last
  }

  /** Splice `GROUP BY cols` before the statement's top-level
    * ORDER BY / LIMIT tail (or append when there is none).
    */
  private def insertGroupBy(q: String, cols: Seq[String]): String = {
    val gb = " GROUP BY " + cols.mkString(", ")
    topLevelIndexOf(q, Seq("order by", "limit")) match {
      case -1 => q + gb
      case at => q.substring(0, at) + gb + " " + q.substring(at)
    }
  }

  // ---- DDL / DML statements (reference SqlCompilerImpl: CREATE TABLE
  // AS, INSERT INTO SELECT/VALUES, DROP/RENAME/TRUNCATE TABLE, COPY —
  // cutlass/text import, CopyExportFactory) ---------------------------------
  //
  // Registered tables here are session temp views over immutable
  // sources; CTAS/INSERT rebuild the view lazily (Spark lineage).
  // Durable day-partitioned tables go through graft.streaming.Ingest /
  // graft.ops.Mutations instead.

  /** Table identifier: dotted word or backtick-quoted. */
  private val Ident = """((?:`[^`]+`|[\w.])+)"""

  private def unq(name: String): String = {
    val n = name.replace("`", "").stripPrefix("'").stripSuffix("'")
    // names Spark temp views cannot carry (unicode, spaces) mangle to
    // the reversible ASCII form (see DialectRewrites.quoteUnicodeIdents)
    if (n.exists(c => c > 127.toChar || c == ' '))
      "__ux" + n.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
    else n
  }

  private val CreateViewRe =
    ("""(?is)^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?""" + Ident +
      """\s+AS\s+(.*)$""").r
  private val DropViewRe =
    ("""(?is)^DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?""" + Ident + """\s*$""").r
  private val AlterViewAsRe =
    ("""(?is)^ALTER\s+VIEW\s+""" + Ident + """\s+AS\s+(.*)$""").r

  private val CreateTableAsRe =
    ("""(?is)^CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?""" + Ident +
      """\s+AS\s*\((.*?)\)\s*((?:,\s*(?:INDEX|CAST)\s*\([^)]*\)\s*)*)(?:TIMESTAMP\s*\(\s*([\w.]+)\s*\))?\s*(?:PARTITION\s+BY\s+\w+)?(?:\s+TTL\s+\w+\s+\w+)?(?:\s+WAL|\s+BYPASS\s+WAL)?\s*(?:WITH\s+[\w=,.\s]+?)?\s*(?:DEDUP\s+UPSERT\s+KEYS\s*\([^)]*\))?\s*(?:IN\s+VOLUME\s+\S+)?\s*$""").r
  private val CreateTableAsBareRe =
    ("""(?is)^CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?""" + Ident +
      """\s+AS\s+(SELECT\s+.*)$""").r
  private val InsertRe =
    ("""(?is)^INSERT\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?INTO\s+""" + Ident +
      """\s*(?:\(([^)]*)\))?\s*((?:SELECT|VALUES)\s*.*)$""").r
  private val DropRe = ("""(?is)^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?""" + Ident + """\s*$""").r
  private val RenameRe = ("""(?is)^RENAME\s+TABLE\s+""" + Ident + """\s+TO\s+""" + Ident + """\s*$""").r
  private val TruncateRe = ("""(?is)^TRUNCATE\s+TABLE\s+""" + Ident + """\s*$""").r
  private val CopyFromRe =
    """(?is)^COPY\s+([\w.]+)\s+FROM\s+'([^']+)'(?:\s+WITH\s+HEADER\s+(true|false))?\s*$""".r
  private val CopyToRe =
    """(?is)^COPY\s+(?:\(((?:[^()]|\([^()]*\))*)\)|([\w.]+))\s+TO\s+'([^']+)'(?:\s+WITH\s+FORMAT\s+(\w+))?\s*$""".r

  private def status(spark: SparkSession, s: String): DataFrame = {
    import spark.implicits._
    Seq(s).toDF("status")
  }

  private val ExplainRe =
    """(?is)^EXPLAIN\s+(?:\(\s*FORMAT\s+(TEXT|JSON)\s*\)\s+)?(.*)$""".r
  // CHECKPOINT CREATE|RELEASE + legacy SNAPSHOT PREPARE|COMPLETE
  // (reference SqlCompilerImpl.compileCheckpoint / compileLegacyCheckpoint)
  private val CheckpointRe =
    """(?is)^(?:CHECKPOINT\s+(CREATE|RELEASE)|SNAPSHOT\s+(PREPARE|COMPLETE))\s*$""".r

  // ---- materialized views over the dialect ---------------------------
  // (reference SqlParser.parseCreateMatView / SqlCompilerImpl.compileRefresh;
  // grammar subset: WITH BASE, REFRESH IMMEDIATE|INCREMENTAL|MANUAL|EVERY n,
  // DEFERRED, and REFRESH ... FULL|INCREMENTAL|RANGE FROM..TO|STATS).
  // These are session views materialized via localCheckpoint so a later
  // INSERT into the base table does NOT leak in until REFRESH — the
  // durable day-partitioned incremental path is graft.streaming.MatView.
  //
  // Each view's TableMeta.MatView carries the dirty designated-ts ranges
  // (micros, half-open; FullRange = recompute everything) marked by the
  // dialect's own write sites and consumed lazily at the next read of
  // the view — the Spark re-expression of reference MatViewRefreshJob's
  // WalTxnRangeLoader walk (cairo/mv/MatViewRefreshJob.java:77,
  // WalTxnRangeLoader.java): refresh cost scales with the data touched
  // since the last read, never with the base table. A clean view serves
  // its pinned checkpoint with NO base scan.
  private val FullRange = TableMeta.FullRange

  /** Mark every auto-refresh mat view over `baseTable` dirty for
    * [lo, hi) (micros). Call with [[FullRange]] for non-ranged
    * mutations (UPDATE / TRUNCATE / ALTER / COPY). */
  private[sql] def markMatViewsDirty(cat: SessionCatalog, baseTable: String,
                                     lo: Long, hi: Long): Unit = {
    val b = SessionCatalog.key(baseTable)
    def over(d: TableMeta.MatView) =
      d.autoRefresh && d.base != null && SessionCatalog.key(d.base) == b
    cat.views.foreach {
      case (key, d: TableMeta.MatView) if over(d) =>
        cat.update(key)(m => m.copy(view = m.matView.filter(over).map(v => v.copy(dirty =
          if (v.dirty.size >= 32) List(FullRange) else v.dirty :+ ((lo, hi)))).orElse(m.view)))
      case _ =>
    }
  }

  private def microsOfTs(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Lazily refresh the dirty auto-refresh mat views a statement
    * references: clean views serve the pinned checkpoint untouched;
    * dirty plain-SAMPLE-BY views recompute ONLY the bucket-aligned
    * dirty ranges and splice them into the store; anything else (tz /
    * offset / fill / first-observation / calendar strides / unknown ts)
    * falls back to a full recompute. */
  private def refreshDirtyMatViews(spark: SparkSession, q: String): Unit = {
    val cat = SessionCatalog(spark)
    val dirty = cat.views.collect {
      case (key, d: TableMeta.MatView) if d.dirty.nonEmpty => key }
    if (dirty.isEmpty) return
    if ("""(?is)^\s*(?:CREATE|DROP|REFRESH)\s+MATERIALIZED""".r.findFirstIn(q).isDefined)
      return
    dirty.foreach { key =>
      if (("""(?i)\b""" + java.util.regex.Pattern.quote(key) + """\b""").r
          .findFirstIn(q).isDefined) {
        // take the ranges: the record keeps the view, now clean
        var taken: Option[TableMeta.MatView] = None
        cat.update(key) { m =>
          taken = m.matView
          m.copy(view = m.matView.map(_.copy(dirty = Nil)).orElse(m.view))
        }
        taken.filter(_.dirty.nonEmpty).foreach { d =>
          try incrementalMatRefresh(spark, key, d)
          catch {
            case _: Throwable =>
              try materializeMatView(spark, key, sqlBound(spark, d.sql, Map.empty))
              catch { case _: Throwable => () }
          }
        }
      }
    }
  }

  private def incrementalMatRefresh(spark: SparkSession, key: String,
                                    d: TableMeta.MatView): Unit = {
    val inner = d.sql
    val ranges0 = d.dirty
    val bucketLit = """(?is)\bSAMPLE\s+BY\s+(\w+)""".r.findFirstMatchIn(inner).map(_.group(1))
    // only the plain epoch-aligned SAMPLE BY shape refreshes surgically
    val plain = bucketLit.isDefined &&
      !"""(?is)\bTIME\s+ZONE\b|\bWITH\s+OFFSET\b|\bFIRST\s+OBSERVATION\b|\bFILL\s*\(|\bSAMPLE\s+BY\s+\w+\s+FROM\b""".r
        .findFirstIn(inner).isDefined
    val baseName = d.base
    val tsCol = Option(baseName).flatMap(SessionCatalog(spark).designatedTs)
    lazy val view = spark.table(key)
    val viewTs = tsCol.flatMap(t => view.schema.fields
        .find(_.name.equalsIgnoreCase(t)).map(_.name))
      .orElse(view.schema.fields
        .find(_.dataType == org.apache.spark.sql.types.TimestampType).map(_.name))
    val full = ranges0.contains(FullRange) || !plain || baseName == null ||
      tsCol.isEmpty || viewTs.isEmpty
    if (full) {
      materializeMatView(spark, key, sqlBound(spark, inner, Map.empty))
      return
    }
    val strideUs = strideToMicros(bucketLit.get) // throws on M/y → full via caller
    // bucket-align, sort, merge overlaps
    val aligned = ranges0.map { case (lo, hi) =>
      val lo2 = lo - Math.floorMod(lo, strideUs)
      val rem = Math.floorMod(hi, strideUs)
      (lo2, if (rem == 0) hi else hi + (strideUs - rem))
    }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((alo, ahi) :: rest, (lo, hi)) if lo <= ahi =>
        (alo, math.max(ahi, hi)) :: rest
      case (acc, r) => r :: acc
    }.reverse
    val bn = baseName.split('.').last
    val ts = tsCol.get
    val pred = aligned.map { case (lo, hi) =>
      s"($ts >= timestamp_micros(${lo}L) AND $ts < timestamp_micros(${hi}L))"
    }.mkString(" OR ")
    val bm = """(?is)\bFROM\s+([\w.`]+)""".r.findFirstMatchIn(inner).getOrElse(
      throw new IllegalStateException("no FROM in mat view definition"))
    val innerRanged = inner.substring(0, bm.start(1)) +
      s"(SELECT * FROM $bn WHERE $pred) $bn" + inner.substring(bm.end(1))
    val fresh = sqlBound(spark, innerRanged, Map.empty)
    val vts = viewTs.get
    val cond = aligned.map { case (lo, hi) =>
      unix_micros(col(vts)) >= lo && unix_micros(col(vts)) < hi
    }.reduce(_ || _)
    val keep = view.where(!cond)
    materializeMatView(spark, key,
      keep.unionByName(fresh.selectExpr(view.columns.map(c => s"`$c`").toIndexedSeq: _*))
        .orderBy(col(vts).asc_nulls_first))
  }

  private val CreateMatViewRe =
    ("""(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?('[^']+'|(?:`[^`]+`|[\w.])+)""" +
      """(?:\s+WITH\s+BASE\s+[`']?([\w.]+)[`']?)?""" +
      """(?:\s+REFRESH((?:\s+(?:IMMEDIATE|INCREMENTAL|MANUAL|EVERY\s+\w+|PERIOD\s*\([^)]*\)|DEFERRED|START\s+'[^']*'(?:\s+TIME\s+ZONE\s+'[^']*')?))*))?""" +
      """\s+AS\s+(?:\((.*)\)|(SELECT\s.*?))\s*(?:TIMESTAMP\s*\(\s*[\w.]+\s*\))?\s*(?:PARTITION\s+BY\s+\w+)?\s*(?:TTL\s+\w+\s+\w+)?\s*$""").r
  // ---- live views (reference SqlParser.parseCreateLiveView:
  // `CREATE LIVE VIEW name FLUSH EVERY <dur> [IN MEMORY <dur>]
  // [PARTITION BY unit] [START FROM ..] AS (q)`; engine in
  // griffin/engine/lv/). Serving here is ALWAYS-FRESH: the stored
  // SELECT re-binds against the live session catalog on every dialect
  // read that references the view — a lazy Spark plan is the freshest
  // possible cursor, so the FLUSH EVERY cadence is recorded as the
  // promised staleness BOUND (we serve strictly fresher). The
  // streaming-backed tiers with real flush timers and apply-lag
  // backpressure are streaming.LiveView / LiveAggView.
  private val CreateLiveViewRe =
    ("""(?is)^CREATE\s+LIVE\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?((?:`[^`]+`|[\w.])+)""" +
      """\s+FLUSH\s+EVERY\s+(\d+)\s*(ms|[smhd])""" +
      """(?:\s+IN\s+MEMORY\s+(\d+)\s*(ms|[smhd]))?""" +
      """(?:\s+PARTITION\s+BY\s+(\w+))?""" +
      """(?:\s+START\s+FROM\s+('[^']*'|NOW|BEGINNING|\S+))?""" +
      """\s+AS\s+(?:\((.*)\)|(SELECT\s.*))\s*$""").r
  private val ShowCreateLiveViewRe =
    """(?is)^SHOW\s+CREATE\s+LIVE\s+VIEW\s+([\w.]+)$""".r
  private val DropLiveViewRe =
    """(?is)^DROP\s+LIVE\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*$""".r
  private val DropAllRe = """(?is)^DROP\s+ALL(?:\s+TABLES)?\s*$""".r

  private val lvRebinding = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue() = new java.util.HashSet[String]()
  }

  private def durationMicros(n: Long, unit: String): Long = unit.toLowerCase match {
    case "ms" => n * 1000L
    case "s" => n * 1000000L
    case "m" => n * 60000000L
    case "h" => n * 3600000000L
    case "d" => n * 86400000000L
  }

  /** Re-bind every registered live view the statement references, so its
    * plan resolves against the CURRENT session catalog (temp views
    * capture plans at creation; a mutated base would otherwise serve
    * stale rows). Reentrancy-guarded per thread: a view's own rebind may
    * reference other views, never itself.
    */
  private def refreshLiveViews(spark: SparkSession, q: String): Unit = {
    val defs = SessionCatalog(spark).views.collect {
      case (name, TableMeta.LiveView(_, _, Some(inner), _)) => (name, inner) }
    if (defs.isEmpty || """(?is)^\s*(?:CREATE|DROP)\s+LIVE\s+VIEW""".r
      .findFirstIn(q).isDefined) return
    defs.foreach { case (name, inner) =>
      if (("""(?i)\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
        .findFirstIn(q).isDefined && lvRebinding.get.add(name)) {
        try sqlBound(spark, inner, Map.empty).createOrReplaceTempView(name)
        finally lvRebinding.get.remove(name)
      }
    }
  }

  // ALTER MATERIALIZED/LIVE VIEW ... SUSPEND/RESUME WAL — same WAL
  // bookkeeping as tables (reference routes all three through the
  // sequencer)
  private val AlterViewWalRe =
    ("""(?is)^ALTER\s+(?:MATERIALIZED\s+VIEW|LIVE\s+VIEW|TABLE)\s+((?:`[^`]+`|[\w.])+)\s+""" +
      """(SUSPEND\s+WAL(?:\s+WITH\s+(?:'[^']*'|\d+)\s*(?:,\s*'[^']*')?)?|RESUME\s+WAL(?:\s+FROM\s+(?:TXN|TRANSACTION)\s+\d+)?)\s*$""").r

  private val AlterMatViewRe =
    ("""(?is)^ALTER\s+MATERIALIZED\s+VIEW\s+((?:`[^`]+`|[\w.])+)\s+""" +
      """(?:SET\s+)?(?:REFRESH\s+(\w+).*|.*)$""").r

  private val RefreshMatViewRe =
    ("""(?is)^REFRESH\s+MATERIALIZED\s+VIEW\s+[`']?([\w.]+)[`']?\s+""" +
      """(?:(FULL|INCREMENTAL|STATS)|RANGE\s+FROM\s+'([^']+)'\s+TO\s+'([^']+)')\s*$""").r
  private val DropMatViewRe =
    """(?is)^DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*$""".r

  private def materializeMatView(spark: SparkSession, name: String, df: DataFrame): Unit = {
    // pin the rows now (the EAGER checkpoint is itself the materializing
    // action) so base-table mutations stay invisible until an explicit
    // REFRESH, matching reference mat-view isolation; no extra count —
    // no caller reads one, and it would be one more serial job per
    // CREATE/REFRESH
    val pinned = df.localCheckpoint(true)
    pinned.createOrReplaceTempView(name)
  }

  // UPDATE over session views (reference griffin/UpdateOperatorImpl;
  // the durable day-partitioned path is ops.Mutations.updateWhere/
  // updateFrom). All assignments see pre-update values (single
  // projection); FROM sources are de-duplicated implicitly by the
  // reference's at-most-one-match constraint — the caller's predicate
  // must key them (documented parity).
  private val UpdateRe =
    ("""(?is)^UPDATE\s+((?:[\w.]+|"[^"]+"|`[^`]+`))""" +
      """(?:\s+(?:AS\s+)?(?!SET\b)(?:\w+|"[^"]+"|`[^`]+`))?""" + // optional alias (ignored)
      """\s+SET\s+(.*?)(?:\s+FROM\s+([\w.]+))?(?:\s+WHERE\s+(.+?))?\s*$""").r

  // ALTER TABLE (reference SqlCompilerImpl.compileAlter): column ops are
  // real view rewrites; WAL/param/index forms are storage-engine knobs
  // with no Spark analogue — validated and acked (the partition-granular
  // forms live in ops.Mutations over day-partitioned table dirs).
  private val AlterRe = """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+(.*?)\s*$""".r
  private val AlterAddRe = """(?is)^ADD\s+(?:COLUMNS?\s+)?(.*)$""".r
  private val AlterDropColRe = """(?is)^DROP\s+COLUMNS?\s+(.*)$""".r
  private val AlterRenameColRe = """(?is)^RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$""".r
  private val AlterColTypeRe = """(?is)^ALTER\s+COLUMN\s+(\w+)\s+(?:SET\s+)?TYPE\s+([\w()0-9, \[\]]+)$""".r
  private val AlterAckRe =
    ("""(?is)^(SET\s+PARAM\b.*|RESUME\s+WAL.*|SUSPEND\s+WAL.*|SET\s+TYPE\s+.*|SQUASH\s+PARTITIONS.*|DEDUP\s+(ENABLE|DISABLE).*|ALTER\s+COLUMN\s+\w+\s+(ADD|DROP)\s+INDEX.*|ALTER\s+COLUMN\s+\w+\s+CACHE.*|ALTER\s+COLUMN\s+\w+\s+NOCACHE.*""" +
      // storage-layout actions that are no-ops here (data is parquet
      // already; WAL bookkeeping is the ingest path's): reference
      // ALTER TABLE CONVERT PARTITION / REBASE WAL / FORCE DROP
      """|CONVERT\s+PARTITION\s+.*|REBASE\s+WAL.*|FORCE\s+DROP\s+PARTITION.*""" +
      // columnar-storage hints: parquet layout knobs, per-column storage
      // options, symbol capacity — metadata-only here
      """|SET\s+FORMAT\s+\w+.*|ALTER\s+COLUMN\s+\w+\s+SET\s+PARQUET\s*\(.*|ALTER\s+COLUMN\s+\w+\s+SYMBOL\s+CAPACITY\s+.*|ATTACH\s+PARTITION\s+.*)$""").r

  private val AlterDropPartRe =
    """(?is)^(DROP|DETACH)\s+PARTITION\s+(?:LIST\s+(.+)|WHERE\s+(.+))$""".r

  // SUSPEND WAL [WITH errno|'TAG'[, 'message']] / RESUME WAL [FROM TXN n]
  // (reference AlterTableSuspendResumeWal) — recorded for wal_tables()
  private val SuspendWalRe =
    """(?is)^SUSPEND\s+WAL(?:\s+WITH\s+('[^']*'|\d+)\s*(?:,\s*('[^']*'))?)?\s*$""".r
  private val ResumeWalRe =
    """(?is)^RESUME\s+WAL(?:\s+FROM\s+(?:TXN|TRANSACTION)\s+\d+)?\s*$""".r
  private def unquote1(s: String): String =
    if (s.startsWith("'")) s.substring(1, s.length - 1) else s
  private def suspendWal(cat: SessionCatalog, name: String, tag: String, msg: String): Unit =
    cat.update(unq(name))(_.copy(wal = TableMeta.WalState(suspended = true,
      Option(tag).map(unquote1).getOrElse("NONE"), Option(msg).map(unquote1).orNull)))
  /** A view whose CHECKPOINT-pinned definition still serves reads. */
  private def pinned(cat: SessionCatalog, name: String): Boolean =
    graft.ops.Checkpoint.active && cat.get(unq(name)).exists(_.pinnedView.isDefined)

  // ALTER TABLE SET FORMAT / CONVERT PARTITION — parquet-format
  // bookkeeping for table_partitions() (reference TableFormatTest,
  // ParquetWriteTest)
  private val SetFormatRe = """(?is)^SET\s+FORMAT\s+(\w+)\s*$""".r
  private val ConvertPartRe =
    ("""(?is)^CONVERT\s+PARTITION\s+TO\s+(PARQUET|NATIVE)\s+""" +
      """(?:LIST\s+(.+?)|WHERE\s+(.+?))(?:\s+WITH\s*\(.*\))?;?\s*$""").r
  private def parseTsLit(s: String): Long = {
    val norm = s.replace('T', ' ')
    val full =
      if (norm.matches("\\d{4}-\\d{2}-\\d{2}")) norm + " 00:00:00"
      else if (norm.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}")) norm + ":00"
      else norm
    try java.sql.Timestamp.valueOf(full).getTime
    catch { case _: Exception => 0L }
  }

  // plain CREATE TABLE with column definitions (reference
  // SqlParser.parseCreateTable: `CREATE TABLE t (sym SYMBOL CAPACITY 256
  // CACHE INDEX, ts TIMESTAMP, ...) TIMESTAMP(ts) PARTITION BY DAY WAL
  // [WITH ...] [DEDUP UPSERT KEYS(...)] [IN VOLUME x]`) — an empty
  // session view with the declared schema; symbol capacity/cache/index
  // knobs are storage hints with no Spark analogue (validated, dropped)
  private val CreateTablePlainHeadRe =
    """(?is)^CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?((?:`[^`]+`|[\w.])+)\s*\((.*)$""".r
  // tail after the column list: optional designated-timestamp clause,
  // then any mix of storage knobs (PARTITION BY / WAL / TTL / WITH /
  // DEDUP / IN VOLUME) that don't change view semantics here
  private val CreateTablePlainTailRe =
    """(?is)^\s*(?:,\s*index\s*\([^)]*\)\s*)*(?:TIMESTAMP\s*\(\s*(\w+)\s*\))?\s*(?:PARTITION\s+BY|BYPASS|WAL|TTL|WITH|DEDUP|FORMAT|IN\s+VOLUME|OWNED|,\s*INDEX|$).*$""".r

  /** Split `rest` (text after the opening paren of a column list) at its
    * balancing close paren: (inside, after). None if unbalanced.
    */
  private def splitBalanced(rest: String): Option[(String, String)] = {
    var depth = 1
    var i = 0
    while (i < rest.length) {
      rest.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return Some((rest.substring(0, i), rest.substring(i + 1)))
        case _ =>
      }
      i += 1
    }
    None
  }

  /** One `name TYPE [modifiers]` column definition → (name, spark type).
    * Parenthesized type args survive (`DECIMAL(20,4)`); GEOHASH precisions
    * collapse onto the base32-string model.
    */
  private def parseColumnDefs(body: String): Seq[(String, String)] =
    parseColumnDefsFull(body).map { case (n, t, _, _) => (n, t) }

  /** (name, sparkType, declaredTypeUpper, knobs) */
  private def parseColumnDefsFull(body: String): Seq[(String, String, String, String)] =
    splitSelect(body).filterNot(
      // table-level index/constraint entries carry no column
      _.matches("(?is)^\\s*index\\s*\\(.*\\)\\s*$")
    ).map { item =>
      val m = ("""(?is)^\s*(`[^`]+`|"[^"]+"|[\p{L}\p{N}_$]+)""" +
        """\s+([A-Za-z_0-9]+(?:\s*\([^)]*\))?(?:\s*\[\s*\])*)\s*(.*)$""").r
        .findFirstMatchIn(item)
        .getOrElse(throw new IllegalArgumentException(s"bad column def: '$item'"))
      val tpe = m.group(2).trim.replaceAll("\\s+", "")
      val up = tpe.toUpperCase
      val spk =
        if (up.endsWith("[]")) sparkTypeOf(up)
        else if (up.startsWith("GEOHASH")) "string"
        else if (up.startsWith("DECIMAL") || up.startsWith("NUMERIC")) {
          // precision beyond Spark's 38 digits rides the decimal-string
          // carrier (exact text; the decimal256_* tier consumes it —
          // reference DECIMAL256 goes to 76)
          val ps = """\((\d+)\s*,\s*(\d+)\)""".r.findFirstMatchIn(up)
          ps match {
            case Some(m2) if m2.group(1).toInt > 38 => "string"
            case _ => tpe.toLowerCase
          }
        }
        else if (up.startsWith("VARCHAR") || up.startsWith("CHAR")) "string"
        else sparkTypeOf(up)
      (m.group(1).replace("`", "").stripPrefix("\"").stripSuffix("\""), spk, up, m.group(3).trim)
    }

  /** Reference type name → Spark SQL type for ALTER/ADD columns.
    * `TYPE[]` / `TYPE[][]` array suffixes nest (reference N-dim arrays). */
  private def sparkTypeOf(t0: String): String = {
    val t = t0.trim
    if (t.endsWith("]")) {
      val m = """(?s)^(.*?)\s*\[\s*\]$""".r.findFirstMatchIn(t)
      if (m.isDefined) return s"array<${sparkTypeOf(m.get.group(1))}>"
    }
    sparkTypeOf0(t)
  }

  private def sparkTypeOf0(t0: String): String = (
    // sized string-modeled types: GEOHASH(5b), VARCHAR(32), CHAR(4)
    if ("""(?i)^(GEOHASH|VARCHAR|CHAR|SYMBOL)\s*\(""".r.findFirstIn(t0.trim).isDefined)
      t0.trim.takeWhile(_ != '(')
    else t0
  ).trim.toUpperCase match {
    case "INT" | "INTEGER" => "int"
    case "LONG" => "bigint"
    case "SHORT" => "smallint"
    case "BYTE" => "tinyint"
    case "DOUBLE" => "double"
    case "FLOAT" | "REAL" => "float"
    case "BOOLEAN" => "boolean"
    case "STRING" | "TEXT" | "VARCHAR" | "SYMBOL" | "CHAR" | "UUID" | "LONG256" | "LONG128" | "IPV4" | "GEOHASH" => "string"
    case "TIMESTAMP" => "timestamp"
    // TIMESTAMP_NS rides the BIGINT nanos carrier EVERYWHERE (CTAS from
    // timestamp_sequence_ns always has; declared columns now match) —
    // Spark's TimestampType is fixed µs and truncates the reference's
    // ns precision (WindowFunctionTest nanos RANGE frames)
    case "TIMESTAMP_NS" => "bigint"
    // reference DATE is a millisecond datetime; TIMESTAMP_NTZ carries it
    // so time-of-day survives and RefText prints the millis pattern
    case "DATE" => "timestamp_ntz"
    case "BINARY" => "binary"
    case other =>
      // DECIMAL128/256 declarations exceed Spark's 38-digit cap — clamp
      // (the 256-bit arithmetic tier rides its own string carrier; a
      // declared decimal(60, s) column only needs ≤38 digits in tests)
      val dec = """(?i)^DECIMAL\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)$""".r
      other match {
        case dec(p, s) if p.toInt > 38 =>
          // DECIMAL128/256 declarations beyond Spark's 38 digits ride
          // the decimal-string carrier (exact text at declared scale);
          // the decimal256_* aggregate/arith tier consumes it
          // (WindowDecimalFunctionTest:8823 decimal(70,0) values)
          "string"
        case dec(p, s) =>
          val pc = math.min(p.toInt, 38)
          s"decimal($pc, ${math.min(Option(s).map(_.toInt).getOrElse(0), pc)})"
        case _ => other.toLowerCase
      }
  }

  // PG-compat session statements the reference validates and discards
  // (SqlCompilerImpl keywordBasedExecutors: begin/commit/rollback/discard/
  // close/unlisten/reset/deallocate and compileSet's no-op)
  private val SessionNoopRe =
    ("""(?is)^(?:BEGIN(?:\s+TRANSACTION)?|COMMIT(?:\s+TRANSACTION)?|ROLLBACK(?:\s+TRANSACTION)?|""" +
      """DISCARD(?:\s+(?:ALL|PLANS|SEQUENCES|TEMPORARY|TEMP))?|CLOSE\s+\S+|UNLISTEN\s+\S+|""" +
      """RESET\s+\S+|DEALLOCATE(?:\s+PREPARE)?\s+\S+|""" +
      """SET\s+(?:(?:SESSION|LOCAL)\s+)?[\w.]+\s*(?:=|\s+TO\s+)\s*.+)\s*$""").r
  // REINDEX TABLE t [COLUMN c] [LOCK EXCLUSIVE] (SqlCompilerImpl.compileReindex);
  // symbol indexes are Spark-side shuffle/bucket concerns, so validate + ack
  private val ReindexRe =
    """(?is)^REINDEX\s+TABLE\s+([\w.]+)(?:\s+COLUMN\s+[\w.]+)?(?:\s+PARTITION\s+'[^']*')?(?:\s+LOCK\s+EXCLUSIVE)?\s*$""".r
  // CANCEL QUERY <id> (SqlCompilerImpl.compileCancel + query_activity())
  private val CancelQueryRe = """(?is)^CANCEL\s+QUERY\s+(\d+)\s*$""".r

  private def statementForm(spark: SparkSession, q: String): Option[DataFrame] = {
    // any statement that creates/drops/replaces a table changes what the
    // information_schema / pg_catalog snapshots should show
    if ("""(?is)^(CREATE|INSERT|DROP|RENAME|TRUNCATE|COPY|UPDATE)\b""".r.findFirstIn(q).isDefined) {
      graft.Catalog.invalidateMetaViews(spark)
      graft.Tables.forgetRegistration(spark)
    }
    statementForm0(spark, SessionCatalog(spark), q)
  }

  private def statementForm0(spark: SparkSession, cat: SessionCatalog,
                             q: String): Option[DataFrame] = q match {
    case CheckpointRe(verb, legacyVerb) =>
      val v = Option(verb).getOrElse(legacyVerb match {
        case p if p.equalsIgnoreCase("PREPARE") => "CREATE"
        case _ => "RELEASE"
      })
      if (v.equalsIgnoreCase("CREATE")) {
        val dir = graft.ops.Checkpoint.create(spark)
        // pin view DEFINITIONS (not plans): reads during the checkpoint
        // evaluate the definition as of CREATE over live data
        // (reference CheckpointTest: post-checkpoint inserts show
        // through a view, post-checkpoint ALTER VIEW does not)
        cat.updateAll(m => m.copy(pinnedView = m.plainView))
        import spark.implicits._
        Some(Seq(dir).toDF("checkpoint_dir"))
      } else {
        graft.ops.Checkpoint.release()
        cat.updateAll(_.copy(pinnedView = None))
        Some(status(spark, "OK"))
      }
    case CreateMatViewRe(name0, base, refreshTail, innerParen, innerBare) =>
      val name = unq(name0)
      val inner = if (innerParen != null) innerParen else innerBare
      val key = name.split('.').last.toLowerCase
      // refresh options arrive in any order (reference parseCreateMatView)
      val opts = Option(refreshTail).map(_.trim.replaceAll("\\s+", " ").toUpperCase).getOrElse("")
      val deferred: String = if (opts.contains("DEFERRED")) "yes" else null
      val kind = """(IMMEDIATE|INCREMENTAL|MANUAL|EVERY \w+|PERIOD\s*\([^)]*\))""".r
        .findFirstIn(opts) match {
        case Some("INCREMENTAL") | None => "IMMEDIATE" // obsolete alias / default
        case Some(k) => k
      }
      val df0 = sqlBound(spark, inner, Map.empty)
      materializeMatView(spark, name, if (deferred != null) df0.limit(0) else df0)
      // REFRESH IMMEDIATE (the default) and timer kinds refresh on base
      // commit in the reference (MatViewRefreshJob). Here the dialect's
      // write sites mark dirty ranges and the next read splices only the
      // touched buckets (refreshDirtyMatViews) — a clean view serves its
      // pinned rows with no base scan. MANUAL/DEFERRED stay pinned until
      // an explicit REFRESH.
      val bucket = """(?is)SAMPLE\s+BY\s+(\w+)""".r.findFirstMatchIn(inner)
        .map(_.group(1)).getOrElse("")
      val baseTable = Option(base).getOrElse(
        """(?is)\bFROM\s+[`']?([\w.]+)""".r.findFirstMatchIn(inner).map(_.group(1)).orNull)
      cat.update(key)(_.copy(view = Some(
        TableMeta.MatView(inner, baseTable, kind, deferred != null, bucket))))
      Some(status(spark, "OK"))

    case RefreshMatViewRe(name, kindRaw, from, to) =>
      val key = name.split('.').last.toLowerCase
      val d = cat.get(key).flatMap(_.matView).getOrElse(throw new IllegalArgumentException(
        s"materialized view does not exist [view=$name]"))
      Option(kindRaw).map(_.toUpperCase) match {
        case Some("STATS") => Some(status(spark, "OK")) // cost-model reset: metadata-only
        case kind =>
          val fresh0 = sqlBound(spark, d.sql, Map.empty)
          if (kind.isEmpty) { // RANGE FROM .. TO: surgical window replace
            val tsCol = cat.designatedTs(key).getOrElse("ts")
            require(fresh0.columns.contains(tsCol),
              s"RANGE refresh needs timestamp column '$tsCol' in the view output")
            val lo = lit(from).cast("timestamp"); val hi = lit(to).cast("timestamp")
            val fresh = fresh0.where(col(tsCol) >= lo && col(tsCol) <= hi)
            val keep = spark.table(name).where(col(tsCol) < lo || col(tsCol) > hi)
            materializeMatView(spark, name, keep.unionByName(fresh))
          } else materializeMatView(spark, name, fresh0) // FULL | INCREMENTAL
          cat.update(key)(m => m.copy(view = m.matView.map(_.copy(dirty = Nil)).orElse(m.view)))
          // the row count serves LAZILY off the just-pinned checkpoint
          // blocks — scripted REFRESH statements that discard the result
          // then pay no extra count job
          Some(spark.table(name).agg(count(lit(1)).as("rows"))
            .select(lit(name).as("view_name"), col("rows")))
      }

    case CreateLiveViewRe(name0, flushN, flushUnit, memN, memUnit, partBy,
                          startFrom, innerParen, innerBare) =>
      val name = unq(name0)
      val inner = if (innerParen != null) innerParen else innerBare
      val key = name.split('.').last.toLowerCase
      val flushUs = durationMicros(flushN.toLong, flushUnit)
      if (flushUs < 100000L) // reference SqlParser parity
        throw new IllegalArgumentException("live view FLUSH EVERY must be at least 100ms")
      // START FROM '<ts>' anchors the view: base rows with designated
      // ts below the anchor never enter it, whenever they arrive
      // (LiveViewStartFromReplayTest — a later upsert below the anchor
      // stays invisible). NOW/BEGINNING need no filter here: serving is
      // always-fresh, so BEGINNING is the identity and NOW's wall-clock
      // fence is the registration below.
      val innerStored = Option(startFrom).filter(_.startsWith("'")).map { lit =>
        val baseRel = """(?is)\bFROM\s+([\w.`]+)""".r.findFirstMatchIn(inner)
        baseRel match {
          case Some(bm) =>
            val b = unq(bm.group(1))
            val bn = b.split('.').last
            val ts = cat.designatedTs(bn).getOrElse("ts")
            inner.substring(0, bm.start(1)) +
              s"(SELECT * FROM $bn WHERE $ts >= $lit) $bn" +
              inner.substring(bm.end(1))
          case None => inner
        }
      }.getOrElse(inner)
      sqlBound(spark, innerStored, Map.empty).createOrReplaceTempView(key)
      val base = """(?is)\bFROM\s+([\w.`]+)""".r.findFirstMatchIn(inner)
        .map(m2 => unq(m2.group(1))).getOrElse("")
      val spec = TableMeta.LiveSpec(
        base, inner.trim,
        flushN.toLong, flushUnit,
        Option(memN).map(_.toLong).getOrElse(flushN.toLong),
        Option(memUnit).getOrElse(flushUnit),
        Option(partBy).map(_.toUpperCase).getOrElse("DAY"),
        Option(startFrom).getOrElse("NOW"))
      // always-fresh serving: the seam is "now" at every listing
      cat.update(key)(_.copy(view = Some(TableMeta.LiveView(s"<session flush=${flushUs}us>",
        () => System.currentTimeMillis() * 1000L, Some(innerStored), Some(spec)))))
      Some(status(spark, "OK"))

    case ShowCreateLiveViewRe(name) =>
      val key = unq(name).split('.').last.toLowerCase
      val m = cat.get(key).flatMap(_.liveView).flatMap(_.spec).getOrElse(
        throw new IllegalArgumentException(s"live view does not exist [view=$name]"))
      import spark.implicits._
      // reference ShowCreateTableOperation live-view canonical text
      val ddl = s"CREATE LIVE VIEW '$key' FLUSH EVERY ${m.flushN}${m.flushUnit}" +
        s" IN MEMORY ${m.memN}${m.memUnit} PARTITION BY ${m.partitionBy}" +
        s" START FROM ${m.startFrom} AS (\n${m.sql}\n);"
      Some(Seq(ddl).toDF("ddl"))

    case DropLiveViewRe(name) =>
      val key = name.split('.').last.toLowerCase
      spark.catalog.dropTempView(key)
      cat.remove(key)
      Some(status(spark, "OK"))

    case DropAllRe() =>
      // reference DROP ALL: every table, mat view, and live view goes —
      // including each one's catalog registrations (declared columns,
      // WAL state, designated ts), so a re-created namesake starts clean
      spark.catalog.listTables().collect().foreach { t =>
        if (!t.name.startsWith("__"))
          try spark.catalog.dropTempView(t.name) catch { case _: Exception => () }
      }
      cat.clear()
      graft.Catalog.invalidateMetaViews(spark)
      Some(status(spark, "OK"))

    case DropMatViewRe(name) =>
      cat.remove(name)
      spark.catalog.dropTempView(name)
      Some(status(spark, "OK"))

    case AlterRe(name, action) =>
      markMatViewsDirty(cat, name, FullRange._1, FullRange._2)
      val t = spark.table(name)
      graft.Catalog.invalidateMetaViews(spark)
      action match {
        case SuspendWalRe(tag, msg) =>
          suspendWal(cat, name, tag, msg)
          Some(status(spark, "OK"))
        case ResumeWalRe(_*) =>
          cat.update(unq(name))(_.copy(wal = TableMeta.WalRunning))
          Some(status(spark, "OK"))
        case SetFormatRe(fmt) =>
          graft.Catalog.setTableFormat(spark, unq(name),
            fmt.equalsIgnoreCase("parquet"))
          Some(status(spark, "OK"))
        case ConvertPartRe(fmt, list, where)
            // partition conversion requires a WAL table — on a non-WAL
            // table the statement validates and does nothing
            // (CoveringIndexTest t_repro_nowal: isParquet stays false)
            if cat.get(unq(name)).exists(m => m.created && !m.walEnabled) =>
          spark.table(name) // validate existence
          Some(status(spark, "OK"))
        case ConvertPartRe(fmt, list, where) =>
          val parquet = fmt.equalsIgnoreCase("parquet")
          if (list != null) {
            val names = splitSelect(list).map(_.trim.stripPrefix("'").stripSuffix("'"))
            graft.Catalog.convertPartitions(spark, unq(name), parquet, names, None)
          } else {
            val w = where.trim
            val all = """(?is)^[\w.]+\s*>=\s*0$""".r
            val inOne = """(?is)^[\w.]+\s+in\s+'([^']+)'$""".r
            val cmp = """(?is)^[\w.]+\s*(<=|<|>=|>)\s*'([^']+)'$""".r
            w match {
              case all() =>
                graft.Catalog.convertPartitions(spark, unq(name), parquet,
                  Nil, Some(_ => true))
              case inOne(p) =>
                graft.Catalog.convertPartitions(spark, unq(name), parquet, Seq(p), None)
              case cmp(op, tsLit) =>
                val bound = parseTsLit(tsLit)
                graft.Catalog.convertPartitions(spark, unq(name), parquet, Nil,
                  Some(start => op match {
                    case "<" => start.getTime < bound
                    case "<=" => start.getTime <= bound
                    case ">" => start.getTime > bound
                    case _ => start.getTime >= bound
                  }))
              case _ =>
                graft.Catalog.convertPartitions(spark, unq(name), parquet,
                  Nil, Some(_ => true))
            }
          }
          Some(status(spark, "OK"))
        case AlterAckRe(_*) =>
          // DEDUP ENABLE registers the upsert keys so later INSERTs
          // replace on collision (LiveViewDedupBaseTest ALTER-then-
          // insert); DISABLE clears them
          """(?is)^DEDUP\s+ENABLE\s+UPSERT\s+KEYS\s*\(([^)]*)\)""".r
            .findFirstMatchIn(action.trim).foreach { m2 =>
              cat.update(unq(name))(
                _.copy(dedupKeys = m2.group(1).split(",").map(_.trim.toLowerCase).toSeq))
            }
          if (action.trim.toUpperCase.startsWith("DEDUP DISABLE"))
            cat.update(unq(name))(_.copy(dedupKeys = Nil))
          // ADD/DROP INDEX flips the declared-column knob so
          // table_columns()/SHOW COLUMNS answer indexed-ness
          // (reference AlterOperationBuilder.ofAddIndex)
          """(?is)^ALTER\s+COLUMN\s+(\w+)\s+(ADD|DROP)\s+INDEX(.*)$""".r
            .findFirstMatchIn(action.trim).foreach { im =>
              val c = im.group(1).toLowerCase
              val knobs =
                if (im.group(2).equalsIgnoreCase("ADD")) "INDEX" + im.group(3).toUpperCase
                else ""
              // keeps the declared type; a table without a column list
              // gets a SYMBOL declaration
              cat.update(name)(m => m.copy(columns = m.columns + (c -> TableMeta.ColDecl(
                m.columns.get(c).map(_.tpe).getOrElse("SYMBOL"), knobs))))
            }
          Some(status(spark, "OK"))
        case AlterDropPartRe(_, list, whereCond) =>
          // session-view tables: partition drop = remove the rows whose
          // designated ts falls in the named partitions (the durable
          // dir-granular path is ops.Mutations.dropPartitions)
          val tsCol = tsOfRel(name, t)
          val kept =
            if (list != null) {
              val prefixes = splitSelect(list).map(_.trim.stripPrefix("'").stripSuffix("'"))
              prefixes.foldLeft(t)((d, p) =>
                d.where(!col(tsCol).cast("string").startsWith(p)))
            } else {
              val c = expr(whereCond.replaceAll("(?i)\\btimestamp\\b", tsCol))
              t.where(!coalesce(c, lit(false)))
            }
          kept.createOrReplaceTempView(name)
          Some(status(spark, "OK"))
        case AlterAddRe(cols) =>
          val added = splitSelect(cols).foldLeft(t) { (d, spec) =>
            // `name TYPE[(args)] [INDEX [TYPE POSTING [INCLUDE(...)]]|
            // CACHE|NOCACHE|CAPACITY n ...]` — storage options are
            // metadata-only here
            val m = """(?is)^\s*(\w+)\s+(\w+(?:\s*\([^)]*\))?(?:\s*\[\s*\])*)""".r
              .findFirstMatchIn(spec.trim)
              .getOrElse(throw new IllegalArgumentException(
                s"ADD COLUMN needs 'name type', got '$spec'"))
            d.withColumn(m.group(1), lit(null).cast(sparkTypeOf(m.group(2))))
          }
          added.createOrReplaceTempView(name)
          Some(status(spark, "OK"))
        case AlterDropColRe(cols) =>
          val names = cols.split(",").map(_.trim)
          names.foreach(c => require(t.columns.exists(_.equalsIgnoreCase(c)),
            s"column '$c' does not exist in $name"))
          t.drop(names: _*).createOrReplaceTempView(name)
          cat.update(name)(m => m.copy(symbols = m.symbols -- names.map(_.toLowerCase)))
          Some(status(spark, "OK"))
        case AlterRenameColRe(from, to) =>
          t.withColumnRenamed(from, to).createOrReplaceTempView(name)
          cat.update(name)(m => m.copy(symbols = m.symbols.get(from.toLowerCase)
            .fold(m.symbols)(d => m.symbols - from.toLowerCase + (to.toLowerCase -> d))))
          Some(status(spark, "OK"))
        case AlterColTypeRe(c, typ) =>
          require(t.columns.exists(_.equalsIgnoreCase(c)), s"column '$c' does not exist")
          t.withColumn(c, alterTypeCast(t, c, typ)).createOrReplaceTempView(name)
          Some(status(spark, "OK"))
        case other => throw new IllegalArgumentException(s"ALTER TABLE: unsupported '$other'")
      }

    case UpdateRe(name0, setPart, fromTbl, where) =>
      val name = unq(name0)
      val t = spark.table(name)
      val assigns: Seq[(String, String)] = splitSelect(setPart).map { a =>
        """(?s)^\s*(\w+)\s*=\s*(.*)$""".r.findFirstMatchIn(a.trim) match {
          case Some(m) => (m.group(1), m.group(2).trim)
          case None => throw new IllegalArgumentException(s"bad SET assignment: '$a'")
        }
      }
      import spark.implicits._
      // UPDATE can mint new symbol values — fold the distinct SET
      // results for declared SYMBOL columns into the write-time symbol
      // dictionary in the same pass that counts affected rows
      val symAssigns = assigns.filter { case (c, _) =>
        cat.get(name).exists(_.declares(c, "SYMBOL"))
      }
      // rows_updated is served LAZILY when no symbol bookkeeping rides
      // along: the one-row result counts the captured PRE-update plan
      // only if a consumer acts on it, so scripted UPDATE chains whose
      // per-statement results are discarded pay zero count jobs (the
      // capture is position-exact: `t` resolves before the view is
      // replaced, so a later evaluation still counts as-of-statement
      // rows). Symbol-minting SET lists keep the eager single-pass fold
      // — the dictionary side effect must land before later statements.
      def countAndNoteSymbols(affectedRows: DataFrame): DataFrame =
        if (symAssigns.isEmpty)
          affectedRows.agg(count(lit(1)).as("rows_updated"))
        else {
          val aggs = count(lit(1)) +: symAssigns.flatMap { case (_, e) =>
            Seq(collect_set(expr(e).cast("string")), max(expr(e).isNull)) }
          val r = affectedRows.agg(aggs.head, aggs.tail: _*).collect()(0)
          symAssigns.zipWithIndex.foreach { case ((c, _), i) =>
            val off = 1 + i * 2
            val vals = Option(r.getSeq[String](off)).getOrElse(Seq.empty)
            val sawNull = !r.isNullAt(off + 1) && r.getBoolean(off + 1)
            if (vals.nonEmpty || sawNull) graft.Catalog.noteSymbolValues(spark, name, c, vals, sawNull)
          }
          Seq(r.getLong(0)).toDF("rows_updated")
        }
      val n = if (fromTbl == null) {
        val cond = Option(where).map(expr(_)).getOrElse(lit(true))
        val updated = t.select(t.columns.map { c =>
          assigns.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, e)) =>
              when(cond, expr(e)).otherwise(col(c))
                .cast(t.schema(c).dataType).as(c)
            case None => col(c)
          }
        }: _*)
        val affected = countAndNoteSymbols(t.filter(cond))
        updated.createOrReplaceTempView(name)
        affected
      } else {
        // join-update: target and source visible under their own names,
        // the WHERE predicate carries the join condition
        val matched = "__graft_upd_matched"
        val tAlias = name.split('.').last
        val sAlias = fromTbl.split('.').last
        val src = spark.table(fromTbl).withColumn(matched, lit(true)).as(sAlias)
        val cond = Option(where).map(expr(_)).getOrElse(lit(true))
        val joined = t.as(tAlias).join(src, cond, "left")
        val hit = coalesce(col(matched), lit(false))
        val updated = joined.select(t.columns.map { c =>
          assigns.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, e)) =>
              when(hit, expr(e)).otherwise(col(s"$tAlias.$c"))
                .cast(t.schema(c).dataType).as(c)
            case None => col(s"$tAlias.$c").as(c)
          }
        }: _*)
        val affected = countAndNoteSymbols(joined.filter(hit))
        updated.createOrReplaceTempView(name)
        affected
      }
      markMatViewsDirty(cat, name, FullRange._1, FullRange._2)
      Some(n)

    case SessionNoopRe() =>
      // validated and discarded, like the reference's PG-compat executors
      Some(status(spark, "OK"))

    case ReindexRe(table) =>
      spark.table(table) // validates existence; index maintenance is a no-op here
      Some(status(spark, "OK"))

    case CancelQueryRe(idStr) =>
      val id = idStr.toLong
      // cancellable = still active OR its job group is executing (the
      // plan was built, the action is in flight)
      val e = Option(activityReg.get(id)).filter { en =>
        en.state.get == "active" || (en.state.get == "completed" && {
          val tracker = spark.sparkContext.statusTracker
          tracker.getJobIdsForGroup(en.group).exists { jid =>
            val info = tracker.getJobInfo(jid)
            info.isDefined && info.get.status() == org.apache.spark.JobExecutionStatus.RUNNING
          }
        })
      }.getOrElse(
        throw new IllegalArgumentException(s"query to cancel not found [id=$id]"))
      spark.sparkContext.cancelJobGroup(e.group)
      e.state.set("cancelled")
      Some(status(spark, "OK"))

    case ExplainRe(fmt, inner) =>
      // reference `EXPLAIN [(FORMAT TEXT|JSON)]` (ExplainPlanFactory,
      // model/ExplainModel FORMAT_TEXT|FORMAT_JSON): text = one PLAN
      // row per line; JSON = the structured plan tree in one row
      // (Spark's TreeNode JSON — this engine's native plan encoding)
      import spark.implicits._
      val qe = sqlBound(spark, inner, Map.empty).queryExecution
      if (fmt != null && fmt.equalsIgnoreCase("JSON"))
        Some(Seq(qe.executedPlan.toJSON).toDF("PLAN"))
      else
        Some(qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          .split("\n").toSeq.toDF("PLAN"))
    case AlterViewWalRe(name, walAction) =>
      walAction.trim match {
        case SuspendWalRe(tag, msg) => suspendWal(cat, name, tag, msg)
        case _ => cat.update(unq(name))(_.copy(wal = TableMeta.WalRunning))
      }
      Some(status(spark, "OK"))
    case AlterMatViewRe(name, kind) =>
      if (kind != null)
        cat.get(unq(name)).flatMap(_.matView).foreach { d =>
          cat.update(unq(name))(_.copy(view = Some(d.copy(refreshKind = kind.toUpperCase))))
        }
      Some(status(spark, "OK"))
    // view DDL updates the CATALOG immediately; reads go through
    // refreshPlainViews, which re-evaluates the registered definition
    // per query and pins the checkpoint-time definition while a
    // checkpoint is active (reference CheckpointTest semantics)
    case CreateViewRe(name, inner) =>
      if (!pinned(cat, name))
        sqlBound(spark, inner.trim, Map.empty).createOrReplaceTempView(unq(name))
      cat.update(unq(name))(_.copy(view = Some(TableMeta.PlainView(inner.trim))))
      Some(status(spark, "OK"))
    case DropViewRe(name) =>
      def drop(): Unit = try spark.catalog.dropTempView(unq(name)) catch { case _: Exception => () }
      // a pinned definition keeps serving until CHECKPOINT RELEASE
      if (pinned(cat, name)) {
        cat.update(unq(name))(_.copy(view = None))
        graft.ops.Checkpoint.defer(() => drop())
      } else { cat.remove(unq(name)); drop() }
      Some(status(spark, "OK"))
    case AlterViewAsRe(name, inner) =>
      cat.update(unq(name))(_.copy(view = Some(TableMeta.PlainView(inner.trim))))
      if (!pinned(cat, name))
        sqlBound(spark, inner.trim, Map.empty).createOrReplaceTempView(unq(name))
      Some(status(spark, "OK"))
    case CreateTableAsRe(name, inner, castTail, ts) =>
      val df0 = sqlBound(spark, inner, Map.empty)
      // `, cast(col as type)` entries re-type the CTAS columns
      // (reference parseCreateTable cast list); INDEX entries are
      // storage hints, validated and dropped
      val df = """(?is)CAST\s*\(\s*(\w+)\s+AS\s+([\w\s()\[\]]+?)\s*\)""".r
        .findAllMatchIn(Option(castTail).getOrElse("")).foldLeft(df0) { (d, cm) =>
          val (c, tpe) = (cm.group(1), cm.group(2))
          if (d.columns.exists(_.equalsIgnoreCase(c)))
            d.withColumn(c, col(c).cast(sparkTypeOf(tpe)))
          else d
        }
      df.createOrReplaceTempView(unq(name))
      Option(ts).foreach(c => cat.update(unq(name))(_.copy(designatedTs = Some(c))))
      Some(status(spark, "OK"))
    case CreateTableAsBareRe(name, inner) =>
      sqlBound(spark, inner, Map.empty).createOrReplaceTempView(unq(name))
      Some(status(spark, "OK"))
    case CreateTablePlainHeadRe(ifNot, name, rest) =>
      val (colsBody, tail) = splitBalanced(rest).getOrElse(
        throw new IllegalArgumentException(s"CREATE TABLE $name: unbalanced column list"))
      val tsOpt = CreateTablePlainTailRe.findFirstMatchIn(tail) match {
        case Some(m) => Option(m.group(1))
        case None => throw new IllegalArgumentException(
          s"CREATE TABLE $name: unrecognized tail '${tail.trim}'")
      }
      val exists = try spark.catalog.tableExists(name) catch { case _: Exception => false }
      if (ifNot != null && exists) Some(status(spark, "OK"))
      else if (colsBody.trim.matches("(?is)^like\\s+[`']?[\\w.]+[`']?$")) {
        // CREATE TABLE x (LIKE y): clone y's schema, designated ts and
        // declared-column registrations (reference parseCreateTableLike)
        val src = colsBody.trim.split("\\s+").last.replaceAll("[`']", "")
        val tpl = spark.table(src)
        tpl.limit(0).createOrReplaceTempView(unq(name))
        val srcTs = cat.designatedTs(unq(src))
        val srcCols = cat.get(unq(src)).map(_.columns).getOrElse(Map.empty)
        cat.update(unq(name))(m => m.copy(designatedTs = srcTs.orElse(m.designatedTs),
          columns = if (srcCols.nonEmpty) srcCols else m.columns))
        graft.Catalog.invalidateMetaViews(spark)
        Some(status(spark, "OK"))
      }
      else {
        val colsF = parseColumnDefsFull(colsBody)
        val cols = colsF.map { case (n, t, _, _) => (n, t) }
        val sel = cols.map { case (n, t) => s"CAST(NULL AS $t) AS `$n`" }.mkString(", ")
        // declared TIMESTAMP_NS columns carry schema metadata so the
        // Catalyst ns rules and RefText can recognize the BIGINT nanos
        // carrier per-ATTRIBUTE (survives projection/union, unlike the
        // name-based tagging)
        val nsMeta = new org.apache.spark.sql.types.MetadataBuilder()
          .putBoolean(graft.sql.RefText.NsMetaKey, true).build()
        val empty0 = spark.sql(s"SELECT $sel").where("1=0")
        val empty = colsF.foldLeft(empty0) { case (d, (n, _, declared, _)) =>
          if (declared.startsWith("TIMESTAMP_NS")) d.withMetadata(n, nsMeta) else d
        }
        empty.createOrReplaceTempView(unq(name))
        // remember partition/TTL/WAL spelling for SHOW CREATE TABLE
        val partM = """(?is)\bPARTITION\s+BY\s+(\w+)""".r.findFirstMatchIn(tail)
        val ttlM = """(?is)\bTTL\s+(\d+)\s*([A-Za-z]+)""".r.findFirstMatchIn(tail)
        // the conformance target is the reference's own test harness,
        // whose walEnabledDefault is FALSE (QueryAssertion.java:2037) —
        // an unspelled WAL keyword means BYPASS. SHOW CREATE TABLE then
        // renders a tail only for non-WAL tables
        // (ShowCreateTableRecordCursorFactory.putWal:412).
        val walSp = if ("""(?is)\bBYPASS\s+WAL\b""".r.findFirstIn(tail).isDefined) "BYPASS WAL"
          else if ("""(?is)\bWAL\b""".r.findFirstIn(tail).isDefined) "WAL"
          else "BYPASS WAL"
        // TTL renders normalized per reference ttlToSink (hours→days→
        // weeks, months→years, plural when n>1); `TTL 1D` letter units ok
        def ttlRender(n: Int, u: String): String = {
          val hoursOrMonths: Either[Int, Int] = u.toLowerCase match {
            case "h" | "hour" | "hours" => Left(n)
            case "d" | "day" | "days" => Left(n * 24)
            case "w" | "week" | "weeks" => Left(n * 24 * 7)
            case "m" | "month" | "months" => Right(n)
            case "y" | "year" | "years" => Right(n * 12)
            case _ => Left(n)
          }
          val (v, unit) = hoursOrMonths match {
            case Left(h) if h % (24 * 7) == 0 => (h / (24 * 7), "WEEK")
            case Left(h) if h % 24 == 0 => (h / 24, "DAY")
            case Left(h) => (h, "HOUR")
            case Right(mo) if mo % 12 == 0 => (mo / 12, "YEAR")
            case Right(mo) => (mo, "MONTH")
          }
          s" TTL $v $unit" + (if (v > 1) "S" else "")
        }
        // non-partitioned designated-ts tables render PARTITION BY NONE
        val partSql = partM.map(m2 => s" PARTITION BY ${m2.group(1).toUpperCase}")
          .getOrElse(if (tsOpt.isDefined) " PARTITION BY NONE" else "")
        val dedupKeysM = """(?is)\bDEDUP\s+UPSERT\s+KEYS\s*\(([^)]*)\)""".r
          .findFirstMatchIn(tail)
        val tailStr = partSql +
          ttlM.map(m2 => ttlRender(m2.group(1).toInt, m2.group(2))).getOrElse("") +
          (if (partSql.nonEmpty && walSp == "BYPASS WAL") " BYPASS WAL" else "") +
          dedupKeysM.map(m2 =>
            s"\nDEDUP UPSERT KEYS(${m2.group(1).split(",").map(_.trim).mkString(",")})")
            .getOrElse("")
        val maxUnc = """(?is)maxUncommittedRows\s*=\s*(\d+)""".r
          .findFirstMatchIn(tail).map(_.group(1).toLong)
        cat.create(unq(name))(m => m.copy(
          partitionBy = partM.map(_.group(1).toUpperCase),
          walEnabled = walSp == "WAL",
          dedup = """(?is)\bDEDUP\b""".r.findFirstIn(tail).isDefined,
          ttl = ttlM.map { m2 =>
            val u = m2.group(2).toUpperCase.stripSuffix("S") match {
              case "H" => "HOUR"; case "D" => "DAY"; case "W" => "WEEK"
              case "M" => "MONTH"; case "Y" => "YEAR"; case w => w
            }
            (m2.group(1).toInt, u)
          },
          maxUncommittedRows = maxUnc,
          createTail = Some(tailStr),
          parquet = """(?is)\bFORMAT\s+PARQUET\b""".r.findFirstIn(tail).isDefined,
          columns = colsF.map { case (n, _, d, k) => n.toLowerCase -> TableMeta.ColDecl(d, k) }.toMap,
          dedupKeys = dedupKeysM.map(_.group(1).split(",").map(k => unq(k.trim)).toSeq)
            .getOrElse(Nil),
          designatedTs = tsOpt.orElse(m.designatedTs)))
        Some(status(spark, "OK"))
      }
    case InsertRe(name0, colList, body) =>
      val name = unq(name0)
      val target = spark.table(name0)
      val meta = cat.get(name).getOrElse(TableMeta())
      val incoming0 =
        try sqlBound(spark, body, Map.empty)
        catch {
          case e: Exception
              if body.trim.toUpperCase.startsWith("VALUES") &&
                e.getMessage != null && e.getMessage.contains("INVALID_INLINE_TABLE") =>
            // Spark inline tables cannot evaluate higher-order exprs
            // (e.g. the sub-char geohash cast's transform) — re-spell
            // the tuples as a UNION ALL of SELECTs
            val tuples = { // walk all top-level (…) groups
              val t = body.trim.substring(6)
              val out = scala.collection.mutable.Buffer[String]()
              var depth = 0; var start = -1; var i = 0
              while (i < t.length) {
                t.charAt(i) match {
                  case '\'' => var j = i + 1; while (j < t.length && t.charAt(j) != '\'') j += 1; i = j
                  case '(' => if (depth == 0) start = i + 1; depth += 1
                  case ')' => depth -= 1; if (depth == 0 && start >= 0) { out += t.substring(start, i); start = -1 }
                  case _ =>
                }
                i += 1
              }
              out.toSeq
            }
            sqlBound(spark,
              tuples.map(tp => s"SELECT $tp").mkString(" UNION ALL "), Map.empty)
        }
      // align by position, cast to the target schema (VALUES arrive as
      // colN); a column list maps positions onto the named subset and
      // nulls the rest (reference InsertModel column list)
      val listed: Seq[String] =
        if (colList == null || colList.trim.isEmpty)
          // bare VALUES may carry FEWER values than columns — the
          // remaining (later-ADDed) columns land null (reference
          // InsertModel positional mapping, ParquetTest)
          target.columns.toSeq.take(
            math.max(incoming0.columns.length, 1))
        else colList.split(",").map(c => unq(c.trim)).toSeq
      // MORE select columns than targets truncate positionally
      // (reference InsertModel positional mapping — CastTest
      // testInfinity inserts an 8-column select into a 1-column table)
      val incoming1 =
        if (incoming0.columns.length > listed.length)
          incoming0.select(incoming0.columns.take(listed.length).map(col): _*)
        else incoming0
      require(incoming1.columns.length == listed.length,
        s"invalid INSERT: column count mismatch [given=${incoming1.columns.length}, expected=${listed.length}]")
      val renamed = incoming1.toDF(listed: _*)
      val srcType = renamed.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      val isValuesIns = body.trim.toUpperCase.startsWith("VALUES")
      var usedRejectGuard = false
      val incoming = renamed.select(target.schema.fields.map { f =>
        if (listed.exists(_.equalsIgnoreCase(f.name))) {
          val c = col(f.name)
          import org.apache.spark.sql.types._
          def integral(t: DataType) =
            t == ByteType || t == ShortType || t == IntegerType || t == LongType
          val declaredNsCol = meta.declares(f.name, "TIMESTAMP_NS")
          (f.dataType, srcType.get(f.name.toLowerCase)) match {
            // integer into TIMESTAMP is epoch-micros in the reference,
            // not epoch-seconds (WindowFunctionTest `insert values (1, …)`)
            case (TimestampType, Some(t)) if integral(t) =>
              timestamp_micros(c.cast("long")).as(f.name)
            // declared TIMESTAMP_NS rides a BIGINT nanos carrier:
            // integers are already nanos (default cast below); µs
            // timestamps scale ×1000; strings parse with the ns digits
            // (digits 7-9 of the fraction) re-attached — a plain
            // string→timestamp cast truncates them
            case (LongType, Some(TimestampType)) if declaredNsCol =>
              (unix_micros(c) * lit(1000L)).as(f.name)
            case (LongType, Some(StringType)) if declaredNsCol =>
              val us = unix_micros(c.cast(TimestampType))
              val rem = coalesce(
                rpad(regexp_extract(c, "\\.\\d{6}(\\d{1,3})\\d*", 1), 3, "0")
                  .cast(LongType), lit(0L))
              val bad =
                if (isValuesIns) {
                  usedRejectGuard = true
                  when(c.isNotNull && us.isNull,
                    raise_error(concat(lit("invalid: inconvertible value `"), c,
                      lit("` [STRING -> TIMESTAMP_NS]"))).cast(LongType))
                } else when(lit(false), lit(null).cast(LongType))
              when(c.isNull, lit(null).cast(LongType))
                .otherwise(coalesce(bad, us * lit(1000L) + rem)).as(f.name)
            // integer into DATE (NTZ carrier) is epoch-millis
            case (TimestampNTZType, Some(t)) if integral(t) =>
              timestamp_millis(c.cast("long")).cast(TimestampNTZType).as(f.name)
            // an UNPARSEABLE non-null string LITERAL into DATE/TIMESTAMP
            // is a REJECTION in the reference (SqlException
            // inconvertible value), not a silent null row (InsertCastTest
            // 'c' → date). INSERT SELECT keeps the null-on-bad cast.
            case (TimestampNTZType, Some(StringType)) | (TimestampType, Some(StringType))
                if isValuesIns =>
              usedRejectGuard = true
              val converted = c.cast(f.dataType)
              when(c.isNotNull && converted.isNull,
                raise_error(concat(lit("invalid: inconvertible value `"), c,
                  lit(s"` [STRING -> ${f.dataType.simpleString}]"))).cast(f.dataType))
                .otherwise(converted).as(f.name)
            // BYTE/SHORT/BOOLEAN carry no null in the reference
            // (ColumnType nullability): an explicit NULL lands as 0/false
            case (ByteType, _) | (ShortType, _) =>
              coalesce(c.cast(f.dataType), lit(0).cast(f.dataType)).as(f.name)
            case (BooleanType, _) =>
              coalesce(c.cast(f.dataType), lit(false)).as(f.name)
            // a longer geohash into a GEOHASH(p) column TRUNCATES to the
            // declared precision (reference GeoHashes.fromString prefix
            // cast; RecordToRowCopier geohash inserts)
            case (StringType, Some(StringType)) if meta.declares(f.name, "GEOHASH(") =>
              val decl = meta.declaredType(f.name).get
              val chars = """GEOHASH\((\d+)([CB])\)""".r.findFirstMatchIn(decl) match {
                case Some(mm) if mm.group(2) == "C" => Some(mm.group(1).toInt)
                case Some(mm) if mm.group(1).toInt % 5 == 0 => Some(mm.group(1).toInt / 5)
                case _ => None
              }
              chars match {
                case Some(n) => substring(c, 1, n).as(f.name)
                case None => c.cast(f.dataType).as(f.name)
              }
            // a multi-char string LITERAL into a CHAR column is a
            // REJECTION (reference CastStrToChar; InsertCastTest 'cc' →
            // char); INSERT SELECT truncates to the first char
            case (StringType, Some(StringType)) if meta.declaredType(f.name).contains("CHAR") =>
              if (isValuesIns) {
                usedRejectGuard = true
                when(length(c) > 1,
                  raise_error(concat(lit("invalid: inconvertible value `"), c,
                    lit("` [STRING -> CHAR]"))))
                  .otherwise(c).as(f.name)
              } else substring(c, 1, 1).as(f.name)
            // '0.0.0.0' IS the IPv4 null (reference Numbers.IPV4_NULL =
            // 0) — land it as SQL NULL so it renders empty
            case (StringType, _) if meta.declares(f.name, "IPV4") =>
              nullif(c.cast(f.dataType), lit("0.0.0.0")).as(f.name)
            // LONG256 input normalizes to the canonical lowercase 0x
            // form whatever the spelling (0X…, bare hex —
            // SqlCompilerImplTest long256 inserts)
            case (StringType, _) if meta.declares(f.name, "LONG256") =>
              when(c.isNull, lit(null).cast(StringType))
                .otherwise(concat(lit("0x"),
                  lower(regexp_replace(c.cast(StringType), "^(?i)0x", ""))))
                .as(f.name)
            // PG brace text into an array column ('{1.0, 2.0}')
            case (at: ArrayType, Some(StringType)) =>
              from_json(translate(c, "{}", "[]"), at).as(f.name)
            case _ => c.cast(f.dataType).as(f.name)
          }
        } else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
      // rejection guards must fire AT the INSERT (the JUnit catches it
      // there and re-asserts over the unmodified table) — the row-count
      // action below would prune the guarded columns, so force a full
      // evaluation of the literal tuples before anything is appended
      if (usedRejectGuard) incoming.collect()
      // single pass: row count, the batch's designated-ts bounds (feeds
      // wal_transactions()'s per-commit min/max), and each declared
      // SYMBOL column's distinct batch values (feeds the write-time
      // symbol dictionary — symbolTableSize is O(1) metadata, reference
      // SymbolMapWriter). collect_set is bounded by the batch's symbol
      // cardinality, the same contract as the reference's symbol map.
      val tsCol = cat.designatedTs(name)
        .filter(c => incoming.columns.exists(_.equalsIgnoreCase(c)))
      val symCols = target.columns.filter(meta.declares(_, "SYMBOL")).toSeq
      val baseAggs = tsCol match {
        case Some(c) =>
          // a BIGINT designated key is the ns carrier — ns→µs for the
          // wal bounds (cast("timestamp") would read it as SECONDS)
          val tsExpr =
            if (incoming.schema.fields.exists(f => f.name.equalsIgnoreCase(c) &&
                f.dataType == org.apache.spark.sql.types.LongType))
              timestamp_micros((col(c) / lit(1000L)).cast("long"))
            else col(c).cast("timestamp")
          Seq(count(lit(1)), min(tsExpr), max(tsExpr))
        case None => Seq(count(lit(1)))
      }
      val symAggs = symCols.flatMap(c => Seq(
        collect_set(col(c).cast("string")), max(col(c).isNull)))
      val aggRow = incoming
        .agg(baseAggs.head, (baseAggs.tail ++ symAggs): _*).collect()(0)
      val (n, mnTs, mxTs) = tsCol match {
        case Some(_) => (aggRow.getLong(0),
          aggRow.getAs[java.sql.Timestamp](1), aggRow.getAs[java.sql.Timestamp](2))
        case None => (aggRow.getLong(0), null: java.sql.Timestamp, null: java.sql.Timestamp)
      }
      symCols.zipWithIndex.foreach { case (c, i) =>
        val off = baseAggs.length + i * 2
        val vals = Option(aggRow.getSeq[String](off)).getOrElse(Seq.empty)
        val sawNull = !aggRow.isNullAt(off + 1) && aggRow.getBoolean(off + 1)
        if (vals.nonEmpty || sawNull) graft.Catalog.noteSymbolValues(spark, name, c, vals, sawNull)
      }
      // WAL DEDUP UPSERT KEYS: the incoming batch replaces existing rows
      // on key collision (reference WAL dedup merge on commit)
      val dk = meta.dedupKeys
        .filter(k => target.columns.exists(_.equalsIgnoreCase(k)))
      val base = if (dk.nonEmpty)
        target.join(broadcast(incoming.select(dk.map(col): _*).distinct()), dk, "left_anti")
          .select(target.columns.map(col): _*) // USING join fronts the keys — restore declared order
      else target
      // intra-batch key collisions keep the LAST row of the batch
      // (reference WAL dedup merge; LiveViewDedupBaseTest same-commit
      // duplicates)
      val incomingDeduped = if (dk.nonEmpty) {
        val pos = org.apache.spark.sql.functions.monotonically_increasing_id()
        val all = incoming.columns.toSeq
        incoming.withColumn("__graft_ins_pos", pos)
          .groupBy(dk.map(col): _*)
          .agg(max_by(struct(all.map(col): _*), col("__graft_ins_pos")).as("__row"))
          .select(all.map(c => col(s"__row.$c").as(c)): _*)
      } else incoming
      // the reference keeps a designated-ts table physically ordered by
      // ts (O3 inserts merge-sort on commit) — mirror that so bare scans
      // return ts order (ParquetWriteTest SELECT * after O3 insert)
      val unioned = base.unionByName(incomingDeduped)
      val stored0 = tsCol match {
        case Some(c) => unioned.orderBy(col(c).asc_nulls_first)
        case None => unioned
      }
      // TTL eviction on commit (reference partition TTL): a partition is
      // dropped once its whole range is older than max(ts) - TTL
      val stored = tsCol match {
        case Some(c) if meta.ttl.isDefined && meta.partitionBy.isDefined && mxTs != null =>
          val (tn, tu) = meta.ttl.get
          val part = meta.partitionBy.get.toUpperCase
          if (part == "NONE") stored0
          else stored0.where(
            expr(s"date_trunc('$part', `$c`) + INTERVAL 1 $part") >
              (lit(mxTs) - expr(s"INTERVAL $tn $tu")))
        case _ => stored0
      }
      stored.createOrReplaceTempView(name)
      graft.Catalog.bumpWalTxn(spark, name, mnTs, mxTs, n)
      if (mnTs != null && mxTs != null)
        markMatViewsDirty(cat, name, microsOfTs(mnTs), microsOfTs(mxTs) + 1)
      else markMatViewsDirty(cat, name, FullRange._1, FullRange._2)
      import spark.implicits._
      Some(Seq(n).toDF("rows_inserted"))
    case DropRe(name) =>
      // reference checkpoint gate (CheckpointTest): while a checkpoint is
      // in progress a non-WAL table cannot be dropped (lock error); a WAL
      // table's drop applies IMMEDIATELY — the metadata deregisters and
      // tables() stops listing it — because the snapshot already
      // hard-linked the data (the reference's queued WAL op deregisters
      // the token up front the same way)
      if (graft.ops.Checkpoint.active && !cat.get(unq(name)).exists(_.walEnabled))
        throw new IllegalStateException(
          s"could not lock '${unq(name)}~' [reason='checkpointInProgress']")
      spark.catalog.dropTempView(unq(name))
      cat.remove(unq(name))
      Some(status(spark, "OK"))
    case RenameRe(from, to) =>
      if (graft.ops.Checkpoint.active && !cat.get(unq(from)).exists(_.walEnabled))
        throw new IllegalStateException(
          s"could not lock '${unq(from)}~' [reason='checkpointInProgress']")
      spark.table(from).createOrReplaceTempView(unq(to))
      spark.catalog.dropTempView(unq(from))
      // reference TableNameRegistry rename: the table keeps its record
      // (id, declared columns, WAL state, txn log, formats), only the
      // name changes
      cat.rename(unq(from), unq(to))
      Some(status(spark, "OK"))
    case TruncateRe(name) =>
      spark.table(name).limit(0).createOrReplaceTempView(unq(name))
      // truncate resets the symbol maps AND the write stats the txn log
      // feeds into tables()' ts bounds (reference TableWriter.truncate)
      cat.update(unq(name))(_.copy(symbols = Map.empty, txnLog = Vector.empty))
      markMatViewsDirty(cat, unq(name), FullRange._1, FullRange._2)
      Some(status(spark, "OK"))
    case CopyFromRe(name, path, header) =>
      val df = spark.read
        .option("header", Option(header).getOrElse("true"))
        .option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
      df.createOrReplaceTempView(name)
      import spark.implicits._
      // import replaces the table — rebuild the symbol dictionary from
      // the imported batch in the same pass that counts rows
      val meta = cat.update(unq(name))(_.copy(symbols = Map.empty))
      val copySymCols = df.columns.filter(meta.declares(_, "SYMBOL")).toSeq
      val copyAggs = count(lit(1)) +: copySymCols.flatMap(c =>
        Seq(collect_set(col(c).cast("string")), max(col(c).isNull)))
      val copyRow = df.agg(copyAggs.head, copyAggs.tail: _*).collect()(0)
      copySymCols.zipWithIndex.foreach { case (c, i) =>
        val off = 1 + i * 2
        val vals = Option(copyRow.getSeq[String](off)).getOrElse(Seq.empty)
        val sawNull = !copyRow.isNullAt(off + 1) && copyRow.getBoolean(off + 1)
        if (vals.nonEmpty || sawNull) graft.Catalog.noteSymbolValues(spark, unq(name), c, vals, sawNull)
      }
      Some(Seq(copyRow.getLong(0)).toDF("rows_imported"))
    case CopyToRe(sub, table, path, fmt) =>
      val df = if (sub != null) sqlBound(spark, sub, Map.empty) else spark.table(table)
      Option(fmt).map(_.toLowerCase).getOrElse("parquet") match {
        case "csv" => df.write.mode("overwrite").option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)
        case "parquet" => df.write.mode("overwrite").parquet(path)
        case other => throw new IllegalArgumentException(s"COPY TO format '$other'")
      }
      import spark.implicits._
      Some(Seq(df.count()).toDF("rows_exported"))
    case _ => None
  }

  // ---- scalar function macros ----------------------------------------------
  // QuestDB scalar functions Spark lacks, expanded textually to built-in
  // expressions (stay inside whole-stage codegen — no UDFs): finance
  // mid/spread/wmid (reference functions/finance), haversine_dist_deg,
  // timestamp_floor/ceil with stride literals, dateadd/datediff,
  // to_timezone/to_utc (reference functions/date).

  /** cast(x AS geohash(Nb)), N not a whole char — sub-char precisions
    * carry their BINARY rendering ('8'→GEOHASH(3b) prints '010': the
    * top 3 bits of base32 index 8 — reference GeoHashes truncation,
    * SampleByFillPrevTest geohash fills). Strings decode ceil(N/5)
    * base32 chars and truncate; numbers reinterpret their low N bits. */
  private def geoCastBits(x: String, bits: Int): String = {
    val chars = (bits + 4) / 5
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    val strBits = s"substring(array_join(transform(" +
      s"split(substring(CAST($x AS STRING), 1, $chars), ''), " +
      s"__gb -> lpad(bin(instr('$alpha', __gb) - 1), 5, '0')), ''), 1, $bits)"
    val numBits = s"lpad(bin(CAST($x AS BIGINT) & ${(1L << bits) - 1}L), $bits, '0')"
    s"(CASE WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint')" +
      s" THEN $numBits ELSE $strBits END)"
  }

  /** cast(x AS geohash(Nc)) — numbers reinterpret their low 5N bits,
    * strings truncate to N chars (reference GeoHashes.fromBits /
    * fromString). */
  private def geoCast(x: String, chars: Int): String = {
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    val numeric = s"CAST($x AS BIGINT)"
    val b32 = (0 until chars).map { i =>
      val shift = 5 * (chars - 1 - i)
      s"substring('$alpha', CAST((shiftright($numeric, $shift) & 31) AS INT) + 1, 1)"
    }.mkString("concat(", ", ", ")")
    // double included: reference geohash-from-number casts exist only
    // for integral types, so a numeric operand here is integral-valued —
    // Spark's `/` promotion may have made its TYPE double (1000+x/10)
    s"(CASE WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint', 'float', 'double') THEN $b32" +
      s" ELSE substring(CAST($x AS STRING), 1, $chars) END)"
  }

  /** Reference datetime pattern → Spark/Java pattern. The reference's
    * format compiler (std/datetime/millitime/DateFormatCompiler.java
    * static init; micro/nano compilers add U=micros, N=nanos) treats any
    * unrecognized character as a LITERAL — `yyyy-MM-ddTHH:mm:ss` is
    * legal there but Java rejects the bare T. Tokenizes greedily over
    * the reference op table, maps fraction runs (SSS/UUU/NNN…) to one
    * Spark fraction-of-second run, and quotes leftover letters. */
  private[sql] def refDateFmt(fmt: String): String = {
    val known = Set("G", "y", "yy", "yyy", "yyyy", "M", "MM", "MMM", "MMMM",
      "d", "dd", "D", "w", "W", "E", "EE", "u", "a", "H", "HH", "k", "kk",
      "K", "KK", "h", "hh", "m", "mm", "s", "ss", "S", "SSS",
      "z", "zz", "zzz", "Z", "x", "xx", "xxx",
      "U", "UUU", "N", "NNN", "N9")
    val out = new StringBuilder
    var i = 0
    var frac = 0 // pending fraction-of-second digit count (S/U/N runs)
    def flushFrac(): Unit = { if (frac > 0) { out ++= "S" * frac; frac = 0 } }
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '\'') {
        // already-quoted literal run: copy verbatim (keeps the pass
        // idempotent — expandCalls re-applies until a fixpoint)
        flushFrac()
        var j = i + 1
        while (j < fmt.length && fmt.charAt(j) != '\'') j += 1
        out ++= fmt.substring(i, math.min(j + 1, fmt.length))
        i = j + 1
      } else if (c.isLetter) {
        // longest known token starting here
        var len = math.min(4, fmt.length - i)
        while (len > 0 && !known(fmt.substring(i, i + len))) len -= 1
        if (len == 0) { // literal letter — quote it for Java
          flushFrac(); out += '\''; out += c; out += '\''; i += 1
        } else {
          val tok = fmt.substring(i, i + len)
          tok.charAt(0) match {
            case 'S' => frac += len
            case 'U' => frac += (if (tok == "U") 1 else 3)
            case 'N' => frac += (if (tok == "N") 1 else if (tok == "N9") 9 else 3)
            case _ =>
              flushFrac()
              out ++= (tok match {
                case "E" => "EEE"    // short day name
                case "EE" => "EEEE"  // long day name
                case "Z" => "X"      // RFC822 / literal Z
                case "zz" => "z"
                case "zzz" => "zzzz"
                case t => t
              })
          }
          i += len
        }
      } else { flushFrac(); out += c; i += 1 }
    }
    flushFrac()
    out.toString
  }

  /** to_timestamp_ns(s, fmt) with an explicit reference pattern: parse
    * the non-fraction part with the translated pattern at second
    * resolution, then add the right-padded fraction digits as nanos. */
  private def nsParseFmtExpr(s: String, refFmt: String): String = {
    val full = refDateFmt(refFmt)
    // strip the fraction run and any trailing zone tokens; the value has
    // its T/Z literals blanked to match
    val noFrac = full.takeWhile(_ != 'S').replace("'T'", " ")
      .reverse.dropWhile(c => c == 'X' || c == 'x' || c == 'z' || c == ' ').reverse
      .stripSuffix(".").trim
    val base = s"translate($s, 'TZ', ' ')"
    s"(unix_timestamp(trim(substring_index($base, '.', 1)), '${noFrac.replace("'", "''")}') * 1000000000" +
      s" + CAST(CASE WHEN instr($base, '.') > 0" +
      s" THEN rpad(trim(substring_index($base, '.', -1)), 9, '0') ELSE '0' END AS BIGINT))"
  }

  /** ISO / space-separated timestamp string → BIGINT nanos-since-epoch
    * (accepts 'yyyy-MM-dd HH:mm:ss.f' and 'yyyy-MM-ddTHH:mm:ss.fZ'). */
  private def nsParseExpr(s0: String): String = {
    val s = s"translate(replace($s0, 'Z', ''), 'T', ' ')"
    // CAST accepts date-only and datetime spellings alike
    s"(unix_micros(CAST(trim(substring_index($s, '.', 1)) AS TIMESTAMP)) * 1000" +
      s" + CAST(CASE WHEN instr($s, '.') > 0" +
      s" THEN rpad(substring_index($s, '.', -1), 9, '0') ELSE '0' END AS BIGINT))"
  }

  /** Cast-to-TIMESTAMP_NS semantics: the ns surface rides as BIGINT
    * nanos-since-epoch (SURVEY §1.2; reference TimestampDriver ns
    * variant). Numerics pass through as nanos, timestamps scale,
    * strings parse. Uses the __QCAST__ sentinel — called from the cast
    * expansion pass. */
  private def nsCast(x0: String): String = {
    val x = {
      var t = x0.trim
      while (t.startsWith("(") && t.endsWith(")") &&
          t.substring(1, t.length - 1).matches("\\s*-?\\d+[Ll]?\\s*"))
        t = t.substring(1, t.length - 1).trim
      t
    }
    if (x.matches("-?\\d+[Ll]?")) s"CAST(${x.stripSuffix("L").stripSuffix("l")} AS BIGINT)"
    else if (x.startsWith("'")) nsParseExpr(x)
    else
      s"(CASE WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint')" +
        s" THEN __QCAST__($x AS BIGINT)" +
        s" WHEN typeof($x) IN ('timestamp', 'timestamp_ntz', 'date')" +
        s" THEN unix_micros(__QCAST__(($x) AS TIMESTAMP)) * 1000" +
        s" ELSE ${nsParseExpr(s"__QCAST__(($x) AS STRING)")} END)"
  }

  /** `avg(x, scale)` [OVER (...)] → `CAST(avg(x) [OVER (...)] AS
    * DECIMAL(38, scale))` with the OVER clause balanced-scanned so
    * nested frame expressions survive. */
  private def rewriteAvgScale(cat: SessionCatalog, q0: String): String = {
    // avg(x, scale) and avg over a DECLARED decimal column keep the
    // asked/declared scale in the reference (AvgDecimalRescale /
    // AvgDecimalGroupByFunction round HALF_UP); Spark widens to
    // scale+4. The OVER clause is balanced-scanned so nested frame
    // expressions survive, and the replacement uses the __AVGS__
    // sentinel so the pass cannot re-enter its own output.
    def declaredScale(col0: String): Option[Int] = {
      val c = col0.split('.').last.toLowerCase
      // only consult tables the statement actually references — a
      // DECIMAL column of the same name declared in an unrelated table
      // must not rescale avg() over some other table's DOUBLE column
      val qLower = q0.toLowerCase
      cat.declared.collectFirst {
        case (tbl, cols) if refTable(qLower, tbl) && cols.get(c).exists(
            _.tpe.toUpperCase.startsWith("DECIMAL")) =>
          val d = cols(c)
          """\(\s*\d+\s*,\s*(\d+)\s*\)""".r.findFirstMatchIn(d.tpe)
            .map(_.group(1).toInt).getOrElse(0)
      }
    }
    // declared (precision - scale) = integral digits the intermediate
    // cast must preserve; unknown declarations assume 18 (the long
    // range) as before. Both lookups are scoped to tables the statement
    // actually references — a same-named DECIMAL column declared by an
    // unrelated session table must not reroute this query's avg().
    def declaredIntDigits(col0: String): Int = {
      val c = col0.split('.').last.toLowerCase
      val qLower = q0.toLowerCase
      cat.declared.collectFirst {
        case (tbl, cols) if refTable(qLower, tbl) &&
            cols.get(c).exists(_.tpe.toUpperCase.startsWith("DECIMAL")) =>
          """\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r.findFirstMatchIn(cols(c).tpe)
            .map(mm => mm.group(1).toInt - mm.group(2).toInt).getOrElse(18)
      }.getOrElse(18)
    }
    def declaredPrecision(col0: String): Option[Int] = {
      val c = col0.split('.').last.toLowerCase
      val qLower = q0.toLowerCase
      cat.declared.collectFirst {
        case (tbl, cols) if refTable(qLower, tbl) &&
            cols.get(c).exists(_.tpe.toUpperCase.startsWith("DECIMAL")) =>
          """\(\s*(\d+)""".r.findFirstMatchIn(cols(c).tpe)
            .map(_.group(1).toInt).getOrElse(38)
      }
    }
    val pat = java.util.regex.Pattern.compile(
      "(?is)\\bavg\\s*\\(\\s*([\\w.]+)\\s*(?:,\\s*(\\d+)\\s*)?\\)")
    var q = q0
    var m = pat.matcher(q)
    var from = 0
    while (m.find(from)) {
      val x = m.group(1)
      val scaleOpt = Option(m.group(2)).map(_.toInt).orElse(declaredScale(x))
      scaleOpt match {
        case None => from = m.end() // plain avg over a non-decimal column
        case Some(scale) =>
          // optional OVER tail: `OVER (balanced)` or `OVER name`
          var i = m.end()
          while (i < q.length && q.charAt(i).isWhitespace) i += 1
          val overEnd: Int =
            if (i + 4 <= q.length && q.substring(i, i + 4).equalsIgnoreCase("over")) {
              var j = i + 4
              while (j < q.length && q.charAt(j).isWhitespace) j += 1
              if (j < q.length && q.charAt(j) == '(') {
                var depth = 1
                j += 1
                while (j < q.length && depth > 0) {
                  q.charAt(j) match {
                    case '(' => depth += 1
                    case ')' => depth -= 1
                    case '\'' => var k2 = j + 1; while (k2 < q.length && q.charAt(k2) != '\'') k2 += 1; j = k2
                    case _ =>
                  }
                  j += 1
                }
                j
              } else { // named window
                var k2 = j
                while (k2 < q.length && (q.charAt(k2).isLetterOrDigit || q.charAt(k2) == '_')) k2 += 1
                k2
              }
            } else m.end()
          val over = if (overEnd > m.end()) q.substring(m.end(), overEnd) else ""
          // 128/256-bit scales exceed Spark's 38-digit decimals: compute
          // at scale 20 and pad the zero tail textually — exact whenever
          // the true quotient fits 20 decimals (the DECIMAL256 corpus)
          // compute at a HIGHER intermediate scale than the target —
          // Spark's avg over decimal(p, s) yields scale s+4, so a
          // low-scale input truncates before the final cast (reference
          // 1m,2m,4m avg at scale 5 = 2.33333, not 2.33330) — and
          // rescale HALF_EVEN (reference Decimals.round: 0.5 at scale 0
          // prints 0, not 1)
          // the intermediate must hold the input's INTEGRAL digits —
          // capping them at 18 silently nulls legitimate low-scale,
          // large-magnitude values (decimal(38,5) ≥ 1e18) under
          // non-ANSI overflow-to-null; only RAISE the scale, and fall
          // back to the direct form when the widened type can't fit
          val intDig = math.max(declaredIntDigits(x), 1)
          val is0 = math.min(math.max(scale + 6, 10), 20)
          val is = math.max(scale, math.min(is0, 38 - intDig))
          val repl =
            if (declaredPrecision(x).exists(_ > 38) || scale > 37)
              // string-carrier column (p > 38) or >38-digit asked scale:
              // exact BigDecimal avg (decimal256_avg_at)
              s"decimal256_avg_at(CAST(($x) AS STRING), $scale)$over"
            else if (scale <= 37 && is + intDig <= 38)
              s"CAST(bround(__AVGS__(CAST(($x) AS DECIMAL(${is + intDig}, $is)))$over, $scale) AS DECIMAL(38, $scale))"
            else if (scale <= 37)
              s"CAST(bround(__AVGS__($x)$over, $scale) AS DECIMAL(38, $scale))"
            else
              // beyond 38 digits: exact BigDecimal avg at the asked
              // scale (decimal256_avg_at; non-terminating quotients need
              // the real division, not a zero-padded 20-digit one —
              // WindowDecimalFunctionTest:10371 avg(v8, 60))
              s"decimal256_avg_at(CAST(($x) AS STRING), $scale)$over"
          q = q.substring(0, m.start()) + repl + q.substring(math.max(overEnd, m.end()))
          from = m.start() + repl.length
          m = pat.matcher(q)
      }
    }
    q.replace("__AVGS__(", "avg(")
  }


  /** Window `sum(X) OVER` → `sum(__graft_promote(X)) OVER`: the
    * reference has only SumDouble/SumDecimal window variants
    * (`functions/window/SumDoubleWindowFunctionFactory.java`), so an
    * integral argument widens to DOUBLE. `__graft_promote`
    * ([[graft.plans.PromoteIntToDouble]]) casts integral inputs and
    * passes everything else through, so decimals keep SumDecimal
    * semantics. GROUP BY sum is untouched (reference sum(INT) → LONG
    * there). */
  /** `sum(col)` over a DECLARED LONG256 column — 256-bit wrap-around
    * accumulation via the registered long256_bin_sum UDAF, rendered back
    * to the canonical 0x carrier (reference
    * `groupby/SumLong256GroupByFunction`; SampleByFillPrevTest sums). */
  private def rewriteLong256Sum(cat: SessionCatalog, q0: String,
                                aliasHints: Set[String] = Set.empty): String = {
    if (!"""(?i)\bsum\s*\(""".r.findFirstIn(q0).isDefined) return q0
    val qLower256 = q0.toLowerCase
    val l256Cols: Set[String] = cat.declared.collect {
      case (tbl, cols) if refTable(qLower256, tbl) =>
        cols.collect { case (n, d) if d.tpe.toUpperCase.startsWith("LONG256") => n }
    }.flatten.toSet ++ aliasHints
    if (l256Cols.isEmpty) return q0
    val pat = java.util.regex.Pattern.compile("(?is)\\bsum\\s*\\(\\s*([\\w.]+)\\s*\\)(?!\\s*(?:ignore|respect|over)\\b)")
    val m = pat.matcher(q0)
    val sb = new StringBuffer
    while (m.find()) {
      val c = m.group(1)
      if (l256Cols.contains(c.split('.').last.toLowerCase))
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(
          s"long256_bin_hex(long256_bin_sum(long256_bin($c)))"))
      else m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(m.group(0)))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** `sum(col)` — group-by OR window — over a DECLARED decimal column
    * whose precision leaves Spark's sum no headroom (p ≥ 29: Spark
    * widens sums to min(38, p+10) digits, the reference accumulates in
    * 256 bits — `groupby/SumDecimal*`, `window/SumDecimalWindow*`;
    * WindowDecimalFunctionTest:8810, SumDecimalGroupByFunctionFactory
    * Test:60): route through the exact decimal256_sum aggregator. The
    * string carrier renders plainString at the accumulated scale, which
    * IS the reference's rendering. */
  /** Order-sensitive sequential aggregates (corr, weighted_stddev_*):
    * the reference accumulates in TABLE ORDER with a single cursor, so
    * the floating-point rounding depends on row order. For the bare
    * `select <only such aggs> from t` shape, pin the scan order (first
    * column ≈ insert order in the fixtures) so the Welford/West
    * rounding reproduces bit-for-bit. Grouped/filtered queries keep the
    * partition-merge path — correct, just not bit-identical. */
  private def pinScanOrderForSeqAggs(q00: String): String = {
    val m = """(?is)^\s*select\s+(.+?)\s+from\s+([A-Za-z_]\w*)\s*$""".r
      .findFirstMatchIn(q00).getOrElse(return q00)
    val itemRe = ("""(?i)^\s*(?:corr|weighted_stddev(?:_rel|_freq)?)\s*""" +
      """\((?:[^()]|\([^()]*\))*\)\s*(?:(?:as\s+)?`?\w+`?)?\s*$""").r
    if (splitSelect(m.group(1)).forall(it => itemRe.findFirstIn(it).isDefined))
      s"SELECT ${m.group(1)} FROM (SELECT * FROM ${m.group(2)} ORDER BY 1)"
    else q00
  }

  /** Non-window `corr(y, x)` → the corr_ref UDAF carrying the
    * reference's exact numerics (Welford order, Chan merge, split-sqrt
    * overflow/underflow fallback, ±1 clamp — reference
    * `groupby/CorrGroupByFunctionFactory.java`, `Numbers.corrFromSums`).
    * Spark's corr lands 3 ULP off on the trading-data fixture and
    * returns 0/null on the 1e±153 edges. Window corr stays native. */
  private def rewriteCorr(q0: String): String = {
    if (!"""(?i)\bcorr\s*\(""".r.findFirstIn(q0).isDefined) return q0
    val pat = java.util.regex.Pattern.compile("(?i)\\bcorr\\s*\\(")
    val sb = new StringBuilder
    var i = 0
    while (i < q0.length) {
      val m = pat.matcher(q0)
      if (!m.find(i)) { sb.append(q0.substring(i)); return sb.toString }
      sb.append(q0.substring(i, m.start()))
      // balanced arg scan
      var depth = 1; var j = m.end(); var comma = -1
      while (j < q0.length && depth > 0) {
        q0.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => if (comma < 0) comma = j
          case '\'' => var k = j + 1; while (k < q0.length && q0.charAt(k) != '\'') k += 1; j = k
          case _ =>
        }
        j += 1
      }
      val overNext = """(?is)^\s*(?:(?:ignore|respect)\s+nulls\s+)?over\b""".r
        .findFirstIn(q0.substring(math.min(j, q0.length))).isDefined
      if (depth == 0 && comma > 0 && !overNext) {
        val a = q0.substring(m.end(), comma)
        val b = q0.substring(comma + 1, j - 1)
        sb.append(s"corr_ref(CAST(($a) AS DOUBLE), CAST(($b) AS DOUBLE))")
      } else sb.append(q0.substring(m.start(), j))
      i = j
    }
    sb.toString
  }

  /** regr_slope/intercept/r2 SKIP non-finite pairs in the reference
    * (Numbers.isFinite gate in the groupby regression functions) —
    * Spark's regr_* propagate NaN/Infinity to null. Null both sides of
    * a pair when either value is non-finite (identity on finite data:
    * Spark's regr_* already ignore null pairs). */
  private def rewriteRegrFinite(q0: String): String = {
    if (!"""(?i)\bregr_(slope|intercept|r2)\s*\(""".r.findFirstIn(q0).isDefined) return q0
    val pat = java.util.regex.Pattern.compile("(?i)\\bregr_(slope|intercept|r2)\\s*\\(")
    val sb = new StringBuilder
    var i = 0
    while (i < q0.length) {
      val m = pat.matcher(q0)
      if (!m.find(i)) { sb.append(q0.substring(i)); return sb.toString }
      sb.append(q0.substring(i, m.start()))
      var depth = 1; var j = m.end(); var comma = -1
      while (j < q0.length && depth > 0) {
        q0.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => if (comma < 0) comma = j
          case '\'' => var k = j + 1; while (k < q0.length && q0.charAt(k) != '\'') k += 1; j = k
          case _ =>
        }
        j += 1
      }
      if (depth == 0 && comma > 0 && !m.group(0).toLowerCase.contains("__graft")) {
        val a = q0.substring(m.end(), comma).trim
        val b = q0.substring(comma + 1, j - 1).trim
        def fin(e: String) =
          s"(NOT isnan(CAST(($e) AS DOUBLE)) AND abs(CAST(($e) AS DOUBLE)) != CAST('Infinity' AS DOUBLE))"
        val guard = s"${fin(a)} AND ${fin(b)}"
        sb.append(s"regr_${m.group(1).toLowerCase}(" +
          s"CASE WHEN $guard THEN CAST(($a) AS DOUBLE) END, " +
          s"CASE WHEN $guard THEN CAST(($b) AS DOUBLE) END)")
      } else sb.append(q0.substring(m.start(), j))
      i = j
    }
    sb.toString
  }

  private def rewriteDecimalWideSum(cat: SessionCatalog, q0: String): String = {
    if (!"""(?i)\b(sum|min|max)\s*\(""".r.findFirstIn(q0).isDefined) return q0
    val decP = """(?i)^DECIMAL\s*\(\s*(\d+)""".r
    val qLowerDW = q0.toLowerCase
    def colsAbove(bound: Int): Set[String] = cat.declared.collect {
      case (tbl, cols) if refTable(qLowerDW, tbl) =>
        cols.collect { case (n, d)
          if decP.findFirstMatchIn(d.tpe).exists(_.group(1).toInt >= bound) => n }
    }.flatten.toSet
    val wideCols = colsAbove(29)       // sum loses Spark headroom past 28
    val strCols = colsAbove(39)        // string-carrier storage (p > 38)
    if (wideCols.isEmpty) return q0
    val pat = java.util.regex.Pattern.compile("(?is)\\b(sum|min|max)\\s*\\(\\s*([\\w.]+)\\s*\\)")
    val m = pat.matcher(q0)
    val sb = new StringBuffer
    while (m.find()) {
      val (fn, c) = (m.group(1).toLowerCase, m.group(2))
      val n = c.split('.').last.toLowerCase
      val repl =
        if (fn == "sum" && wideCols.contains(n))
          s"decimal256_sum(CAST($c AS STRING))"
        else if ((fn == "min" || fn == "max") && strCols.contains(n))
          // string carrier needs NUMERIC min/max, not lexicographic
          s"decimal256_$fn($c)"
        else m.group(0)
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(repl))
    }
    m.appendTail(sb)
    sb.toString
  }

  private def rewriteWindowSum(cat: SessionCatalog, q0: String): String = {
    val pat = java.util.regex.Pattern.compile("(?is)\\bsum\\s*\\(")
    var q = q0
    var from = 0
    var m = pat.matcher(q)
    while (m.find(from)) {
      val open = m.end() - 1
      var depth = 0; var i = open; var end = -1
      while (i < q.length && end < 0) {
        q.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case '\'' => var k = i + 1; while (k < q.length && q.charAt(k) != '\'') k += 1; i = k
          case _ =>
        }
        i += 1
      }
      if (end < 0) return q
      val args = q.substring(open + 1, end)
      val tail = q.substring(end + 1)
      val overNext = """(?is)^\s*(?:(?:ignore|respect)\s+nulls\s+)?over\b""".r
        .findFirstIn(tail).isDefined
      // a DECLARED decimal argument never promotes (SumDecimal) — skip
      // the wrapper there: promote + the avg-rescale CAST in one select
      // trips Spark's window extraction (_w0 MISSING_ATTRIBUTES)
      val declaredDecimal = args.trim.matches("[\\w.]+") && {
        val n = args.trim.split('.').last.toLowerCase
        cat.declared.exists { case (tbl, cols) =>
          refTable(q0.toLowerCase, tbl) &&
            cols.get(n).exists(_.tpe.toUpperCase.startsWith("DECIMAL"))
        }
      }
      if (overNext && !args.trim.toLowerCase.startsWith("__graft_promote") &&
          args.trim.nonEmpty && !declaredDecimal) {
        q = q.substring(0, open + 1) + "__graft_promote(" + args + ")" + q.substring(end)
        from = end + "__graft_promote()".length + 1
      } else
        // keep scanning INSIDE a non-window sum: its argument may hold
        // window sums of its own (`sum(sum(id) OVER () + …)` —
        // WindowFunctionTest:20480 expects the inner sums promoted)
        from = open + 1
      m = pat.matcher(q)
    }
    q
  }

  /** Reference long→timestamp cast semantics (micros since epoch).
    * Timestamp-target casts are emitted as `__QCAST__(... AS TIMESTAMP)`
    * — a sentinel the `cast` expansion pass cannot match — because this
    * function runs FROM that pass: a plain CAST here is rescanned,
    * expands again, and the text doubles per round. */
  private def tsUsCast(x0: String): String = {
    var x = x0.trim
    // unwrap a parenthesized numeric literal: `(-5)::timestamp`
    while (x.matches("\\(\\s*-?\\d+[Ll]?\\s*\\)")) x = x.substring(1, x.length - 1).trim
    if (x.matches("-?\\d+[Ll]?"))
      s"timestamp_micros(CAST(${x.stripSuffix("L").stripSuffix("l")} AS BIGINT))"
    else if (x.startsWith("'") || x.toUpperCase.startsWith("TIMESTAMP "))
      s"__QCAST__($x AS TIMESTAMP)"
    else
      s"(CASE WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint', 'float', 'double')" +
        s" THEN timestamp_micros(__QCAST__($x AS BIGINT)) ELSE __QCAST__(($x) AS TIMESTAMP) END)"
  }

  /** Reference DATE cast: a millisecond datetime (TIMESTAMP_NTZ carrier
    * here so DATE-typed results keep time-of-day and print with the
    * reference's millisecond UTC_PATTERN — see RefText). Numerics are
    * epoch millis; everything else parses as a timestamp truncated to
    * millis. */
  private def dateMsCast(x0: String): String = {
    val x = x0.trim
    def trunc(ts: String): String =
      s"__QCAST__(timestamp_millis(CAST(unix_micros($ts) div 1000 AS BIGINT)) AS TIMESTAMP_NTZ)"
    if (x.matches("-?\\d+[Ll]?"))
      s"__QCAST__(timestamp_millis(CAST(${x.stripSuffix("L").stripSuffix("l")} AS BIGINT)) AS TIMESTAMP_NTZ)"
    else
      // Long.MIN_VALUE is the reference's DATE null sentinel
      // (OrderByEncodeSortTest null dates sort as nulls); other values
      // clamp to the representable ms range — the ms→µs widening
      // multiply would overflow on a full-range rnd_long()
      // (CountColumnTest `cast(rnd_long() as date)`)
      s"(CASE WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint')" +
        // IS NULL guard first: least/greatest SKIP nulls, so an
        // unguarded clamp would turn a NULL input into the bound
        s" THEN CASE WHEN ($x) IS NULL" +
        s" OR __QCAST__($x AS BIGINT) = -9223372036854775807L - 1L THEN NULL" +
        s" ELSE __QCAST__(timestamp_millis(greatest(least(__QCAST__($x AS BIGINT)," +
        s" 9223372036854775L), -9223372036854775L)) AS TIMESTAMP_NTZ) END" +
        s" ELSE ${trunc(s"__QCAST__(($x) AS TIMESTAMP)")} END)"
  }

  /** timestamp_floor(stride, ts[, origin[, offset, tz]]) — floor to the
    * stride grid anchored at `origin` (epoch when null) shifted by
    * `offset` (HH:mm), computed in `tz` local time (reference
    * functions/date/TimestampFloor*FunctionFactory family). The `_utc`
    * spelling converts the floored local value back to UTC. */
  private def floorExpr(args: Seq[String], toUtc: Boolean): String = {
    val stride = args.head
    val ts = args(1)
    val tz = args.lift(4).map(_.trim).filter(_ != "null")
    val local = tz match {
      case Some(z) => s"from_utc_timestamp(CAST($ts AS TIMESTAMP), $z)"
      case None => s"CAST($ts AS TIMESTAMP)"
    }
    val su = """(\d+)?\s*([UTsmhdwMyn])""".r.findFirstMatchIn(stripQuotes(stride).trim)
      .getOrElse(throw new IllegalArgumentException(s"bad stride '${stripQuotes(stride)}'"))
    val nStride = Option(su.group(1)).map(_.toLong).getOrElse(1L)
    val origin0 = args.lift(2).map(_.trim).filter(_ != "null")
    su.group(2) match {
      case "M" | "y" =>
        val nm = (if (su.group(2) == "M") 1 else 12) * nStride
        val f = origin0 match {
          case Some(o) =>
            // anchored calendar stride: whole months since the origin,
            // floored to the grid, re-applied to the origin so its
            // day-of-month and time-of-day carry
            // (TimestampFloorFromFunctionFactoryTest)
            val org = s"CAST($o AS TIMESTAMP)"
            val md = s"(CAST(floor(floor(months_between($local, $org)) / $nm) AS INT) * $nm)"
            // add_months returns a DATE — re-apply the origin's
            // time-of-day on top of the stepped midnight
            s"(CAST(add_months($org, $md) AS TIMESTAMP) + ($org - CAST(CAST($org AS DATE) AS TIMESTAMP)))"
          case None =>
            // epoch-anchored: floor months-since-epoch to the grid
            // (reference MonthTimestampSampler)
            val months = s"((year($local) - 1970) * 12 + month($local) - 1)"
            val fl = s"(CAST(floor($months / $nm) AS BIGINT) * $nm)"
            s"make_timestamp(1970 + CAST(floor($fl / 12) AS INT), CAST($fl % 12 AS INT) + 1, 1, 0, 0, 0)"
        }
        return tz match {
          case Some(z) if toUtc => s"to_utc_timestamp($f, $z)"
          case _ => f
        }
      case "n" =>
        // nanosecond stride: BIGINT operands are ns carriers; string
        // literals parse their full 9-digit residue; timestamp operands
        // floor their ns view. The RESULT type follows the operands:
        // µs-precision inputs return a µs TIMESTAMP (truncated), ns
        // inputs keep the BIGINT-nanos carrier.
        def nsOf(x: String): String =
          if (x.trim.startsWith("'")) nsParseExpr(x)
          else s"(CASE WHEN typeof($x) = 'bigint' THEN CAST($x AS BIGINT) " +
            s"ELSE unix_micros(CAST($x AS TIMESTAMP)) * 1000 END)"
        def nsPrec(x: String): Boolean =
          """\.\d{7,9}Z?'""".r.findFirstIn(x).isDefined || !x.trim.startsWith("'")
        val v = nsOf(ts)
        val resNs = origin0 match {
          case Some(o) =>
            val a = nsOf(o)
            s"(($a) + floor((($v) - ($a)) / $nStride) * $nStride)"
          case None => s"($v - pmod($v, $nStride))"
        }
        return if (nsPrec(ts) || origin0.exists(nsPrec))
          resNs
        else s"timestamp_micros(CAST($resNs div 1000 AS BIGINT))"
      case _ => ()
    }
    // a ns-precision ANCHOR (7-9 fractional digits) keeps the whole
    // computation in nanos whatever the stride unit — the result type
    // follows the anchor (reference TimestampFloorFrom ns overloads); a
    // ns ts with a µs stride and no ns anchor truncates to µs first
    def nsLit(x: Option[String]): Boolean =
      x.exists(t => """\.\d{7,9}Z?'""".r.findFirstIn(t).isDefined)
    if (nsLit(origin0)) {
      val strideNs = strideToMicros(stripQuotes(stride)) * 1000L
      def nsOf(x: String): String =
        if (x.trim.startsWith("'")) nsParseExpr(x)
        else s"(CASE WHEN typeof($x) = 'bigint' THEN CAST($x AS BIGINT) " +
          s"ELSE unix_micros(CAST($x AS TIMESTAMP)) * 1000 END)"
      val v = nsOf(ts)
      return origin0 match {
        case Some(o) =>
          val a = nsOf(o)
          s"(($a) + floor((($v) - ($a)) / ${strideNs}L) * ${strideNs}L)"
        case None => s"($v - pmod($v, ${strideNs}L))"
      }
    }
    val us = strideToMicros(stripQuotes(stride))
    val originUs = args.lift(2).map(_.trim).filter(_ != "null") match {
      case Some(o) => s"unix_micros(CAST($o AS TIMESTAMP))"
      case None => "0"
    }
    val offsetUs = args.lift(3).map(_.trim).filter(_ != "null") match {
      case Some(off) =>
        s"((CAST(split_part(${off}, ':', 1) AS BIGINT) * 3600 + CAST(split_part(${off}, ':', 2) AS BIGINT) * 60) * 1000000)"
      case None => "0"
    }
    val base = s"(($originUs) + ($offsetUs))"
    val v = s"unix_micros($local)"
    val floored = s"timestamp_micros(CAST($base + floor(CAST(($v) - $base AS DOUBLE) / $us) * $us AS BIGINT))"
    tz match {
      case Some(z) if toUtc =>
        // back-convert with the offset of the ORIGINAL UTC input — not
        // the (ambiguous) floored local value — so fall-back keeps
        // distinct buckets distinct (reference floorWithTz returnUtc;
        // TimestampFloorFromOffsetUtcFunctionFactoryTest)
        val off = s"(unix_micros(from_utc_timestamp(CAST($ts AS TIMESTAMP), $z))" +
          s" - unix_micros(CAST($ts AS TIMESTAMP)))"
        s"timestamp_micros(unix_micros($floored) - $off)"
      case _ => floored
    }
  }

  private def strideToMicros(lit: String): Long = {
    val m = """(\d+)?([UTsmhdw])""".r.findFirstMatchIn(lit.trim)
      .getOrElse(throw new IllegalArgumentException(s"bad stride '$lit'"))
    Option(m.group(1)).map(_.toLong).getOrElse(1L) * unitMicros(m.group(2))
  }

  /** Find `name(...)` calls with balanced parens and rewrite via `f(args)`.
    * `insensitive = false` matches the exact spelling — needed when the
    * replacement text itself contains a case-variant of the name (e.g.
    * reference `typeOf` lowering to Spark's `typeof`).
    */
  private val callPatterns =
    new java.util.concurrent.ConcurrentHashMap[String, scala.util.matching.Regex]()

  private def expandCalls(q: String, name: String, insensitive: Boolean = true)(
      f: Seq[String] => String): String = {
    // cheap reject before any regex work — with ~180 registered dialect
    // functions this pre-scan is most of the planning-cost win
    if (!containsWordIgnoreCase(q, name)) return q
    val re = callPatterns.computeIfAbsent(s"$insensitive$name", _ =>
      (if (insensitive) s"(?i)\\b$name\\s*\\(" else s"\\b$name\\s*\\(").r)
    var out = q
    var from = 0     // identity sites advance this; real rewrites rescan
    var budget = 1000
    var m = re.findFirstMatchIn(out.substring(from))
    while (m.isDefined && budget > 0) {
      val start = from + m.get.start
      val open = from + m.get.end - 1
      var depth = 0; var i = open; var end = -1
      while (i < out.length && end < 0) {
        out.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      if (end < 0) return out // unbalanced — leave untouched
      val args = splitSelect(out.substring(open + 1, end))
      // an arity the handler doesn't cover (e.g. Spark's own 2-arg
      // datediff inside generated SQL) stays unexpanded
      val replacement =
        try f(args)
        catch { case _: MatchError => out.substring(start, end + 1) }
      // identity rewrite: keep it and resume scanning INSIDE its args
      // (nested same-name calls still expand) without ever rematching
      // this site; a real rewrite rescans from the top so handlers can
      // produce nested calls for each other
      if (replacement == out.substring(start, end + 1)) from = open + 1
      else {
        out = out.substring(0, start) + replacement + out.substring(end + 1)
        from = 0
        budget -= 1
      }
      m = re.findFirstMatchIn(out.substring(from))
    }
    out
  }

  /** Case-insensitive substring containment without allocation-heavy
    * toLowerCase on the full statement. */
  private def containsWordIgnoreCase(q: String, w: String): Boolean = {
    val n = w.length
    if (n == 0 || q.length < n) return false
    var i = 0
    val max = q.length - n
    while (i <= max) {
      if (q.regionMatches(true, i, w, 0, n)) return true
      i += 1
    }
    false
  }

  private def stripQuotes(s: String): String = s.trim.stripPrefix("'").stripSuffix("'")

  /** Apply `f` to the spans of `q` OUTSIDE single-quoted string
    * literals (doubled '' escapes respected) — for textual rewrites
    * that must not touch literal content.
    */
  private def mapOutsideStrings(q: String)(f: String => String): String = {
    val sb = new StringBuilder
    var i = 0
    var start = 0
    while (i < q.length) {
      if (q.charAt(i) == '\'') {
        sb.append(f(q.substring(start, i)))
        var j = i + 1
        var end = -1
        while (j < q.length && end < 0) {
          if (q.charAt(j) == '\'') {
            if (j + 1 < q.length && q.charAt(j + 1) == '\'') j += 2 else end = j
          } else j += 1
        }
        if (end < 0) end = q.length - 1
        sb.append(q.substring(i, end + 1))
        i = end + 1
        start = i
      } else i += 1
    }
    sb.append(f(q.substring(start)))
    sb.toString
  }

  /** QuestDB geohash literals (reference `GenericLexer`/`GeoHashUtil`
    * parse): `#u33d8b12` (base32 chars) and `##01010` (bit form). The
    * repo's geohash type is the base32 string, so char literals become
    * plain string literals; bit literals map exactly when they hold
    * whole 5-bit chars (the reference's sub-char precisions have no
    * string spelling — rejected explicitly, not silently truncated).
    */
  private[graft] def rewriteGeoLiterals(q: String): String = mapOutsideStrings(q) { s =>
    val bin = "##([01]+)".r.replaceAllIn(s, m => {
      val bits = m.group(1)
      // whole 5-bit groups spell base32 chars; sub-char precisions keep
      // the BIT-string spelling — bit-granularity geohash columns carry
      // their binary rendering (the reference prints geohash(7b) as
      // '1111111'), so `within(##111111)` stays a prefix predicate
      if (bits.length % 5 != 0) s"'$bits'"
      else {
        val chars = bits.grouped(5)
          .map(g => "0123456789bcdefghjkmnpqrstuvwxyz".charAt(Integer.parseInt(g, 2)))
          .mkString
        s"'$chars'"
      }
    })
    // base32 alphabet excludes a, i, l, o; require a boundary before #
    // so we never touch ## (handled above) or mid-token #
    "(?<![#\\w])#([0-9b-hjkmnp-z]+)\\b".r.replaceAllIn(bin, m => s"'${m.group(1)}'")
  }

  /** Infix `within` (reference SQL `WHERE geo within(#u33, #z1)`):
    * geohash prefix containment against any of the listed prefixes.
    * Runs after [[rewriteGeoLiterals]], so prefixes arrive as quoted
    * strings; lowering is a `starts_with` OR-chain — a pushdown-able
    * string predicate, the same plan a hand-written prefix filter gets.
    */
  private[graft] def rewriteWithin(q: String): String = {
    // balanced-paren arg scan: prefixes may be calls themselves
    // (make_geohash(...), cast(... as geohash(Nc)))
    val re = """(?i)([\w.]+|'[^']*')\s+within\s*\(""".r
    var out = q
    var m = re.findFirstMatchIn(out)
    var budget = 64
    while (m.isDefined && budget > 0) {
      budget -= 1
      val colRef = m.get.group(1)
      val open = m.get.end - 1
      var depth = 0; var i = open; var end = -1
      while (i < out.length && end < 0) {
        out.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      if (end < 0) return out
      val conds = splitSelect(out.substring(open + 1, end))
        .map(_.trim).filter(_.nonEmpty)
        .map(p => s"startswith($colRef, $p)")
      val repl = if (conds.isEmpty) "(false)" else "(" + conds.mkString(" OR ") + ")"
      out = out.substring(0, m.get.start) + repl + out.substring(end + 1)
      m = re.findFirstMatchIn(out)
    }
    out
  }

  /** Reference aggregate spellings. `count()` / `count_distinct(x)` are
    * pure text. `first/last/first_not_null/last_not_null` are ts-ordered
    * in the reference (First/LastGroupByFunctionFactory over the
    * designated timestamp); they lower to `min_by/max_by` against the
    * FROM table's designated ts when one resolves — otherwise they're
    * left for Spark (whose first/last are any-value) rather than
    * guessing an order.
    */
  private def rewriteTsAggs(spark: SparkSession, q0: String): String = {
    var q = q0
    q = expandCalls(q, "count_distinct") { args =>
      s"count(DISTINCT ${args.mkString(", ")})" }
    q = expandCalls(q, "count") {
      case args if args.forall(_.trim.isEmpty) => "count(*)"
      case args => s"count(${args.mkString(", ")})"
    }
    val needsTs = """(?i)\b(first|last|first_not_null|last_not_null|nth_value)\s*\(""".r
      .findFirstIn(q).isDefined
    if (needsTs) {
      val fromAt = topLevelIndexOf(q, Seq("from"))
      val table = if (fromAt < 0) "" else
        q.substring(fromAt + 4).trim
          .takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
      val tsOpt =
        if (table.isEmpty) None
        else try {
          val df = spark.table(table)
          Some(tsOfRel(table, df)).filter(df.columns.contains(_))
        } catch { case _: Exception => None }
      // joined FROM: a bare ts is ambiguous — qualify with the head
      // relation (its alias when spelled)
      val tsQualified = tsOpt.map { ts =>
        val fromTail = if (fromAt < 0) "" else q.substring(fromAt + 4)
        val hasJoin = topLevelIndexOf(fromTail,
          Seq("join", ",")) >= 0 && topLevelIndexOf(fromTail, Seq("join")) >= 0
        if (!hasJoin) ts
        else {
          val aliasM = ("""(?is)^\s*""" + java.util.regex.Pattern.quote(table) +
            """\s+(?:AS\s+)?([A-Za-z_]\w*)\b""").r.findFirstMatchIn(fromTail)
          val qual = aliasM.map(_.group(1))
            .filterNot(a => Set("join", "on", "using", "where", "sample", "latest",
              "left", "right", "inner", "cross", "full", "asof", "lt", "splice").contains(a.toLowerCase))
            .getOrElse(table)
          s"$qual.$ts"
        }
      }
      // nth_value over an unordered window = table order in the
      // reference; Spark demands ORDER BY — inject the designated ts
      tsQualified.foreach { ts =>
        // only the window attached to the nth_value call itself — adding
        // ORDER BY to other windows would change their default frame
        q = java.util.regex.Pattern.compile(
          "(?is)\\b(nth_value\\s*\\((?:[^()]|\\([^()]*\\))*\\)\\s*OVER\\s*\\()([^()]*)\\)")
          .matcher(q).replaceAll(mr => {
            val c = mr.group(2)
            java.util.regex.Matcher.quoteReplacement(
              if ("""(?i)\border\s+by\b""".r.findFirstIn(c).isDefined) mr.group()
              // whole-partition frame: the ordered default (running
              // range) would null the leading rows
              else s"${mr.group(1)}${c.trim} ORDER BY $ts " +
                "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
          })
      }
      tsQualified.foreach { ts =>
        q = expandCalls(q, "first_not_null") { case Seq(x) =>
          s"min_by($x, CASE WHEN ($x) IS NOT NULL THEN $ts END)" }
        q = expandCalls(q, "last_not_null") { case Seq(x) =>
          s"max_by($x, CASE WHEN ($x) IS NOT NULL THEN $ts END)" }
        q = expandCalls(q, "first") {
          case Seq(x) => s"min_by($x, $ts)"
          case args => s"first(${args.mkString(", ")})"
        }
        q = expandCalls(q, "last") {
          case Seq(x) => s"max_by($x, $ts)"
          case args => s"last(${args.mkString(", ")})"
        }
      }
      if (tsOpt.isEmpty) {
        // no designated order: the reference falls back to table order,
        // which Spark's first/last give in partition order
        q = expandCalls(q, "first_not_null") { case Seq(x) => s"first($x, true)" }
        q = expandCalls(q, "last_not_null") { case Seq(x) => s"last($x, true)" }
      }
    }
    q
  }

  private[sql] def rewriteFnMacros(cat: SessionCatalog, q0: String): String = {
    // long256 alias capture FIRST: the cast expansion below erases the
    // `AS LONG256` spelling before rewriteLong256Sum runs
    val l256Aliases: Set[String] =
      """(?is)(?:::\s*long256\b|as\s+long256\s*\))\s*(?:as\s+)?([A-Za-z_]\w*)""".r
        .findAllMatchIn(q0)
        .map(_.group(1).toLowerCase)
        .filterNot(Set("from", "where", "group", "order", "union", "limit",
          "intersect", "except", "sample", "latest"))
        .toSet
    var q = rewriteWithin(rewriteGeoLiterals(q0))
    def d(x: String) = s"CAST($x AS DOUBLE)"
    // reference ceil/floor are double→double (math/CeilDoubleFunction
    // Factory); Spark's return LONG for doubles. FIRST in the chain so
    // only user-written calls are touched, not floor() text emitted by
    // later macro expansions.
    q = expandCalls(q, "ceiling") { case Seq(x) => s"CAST(__ceil__($x) AS DOUBLE)"
                                    case args => s"ceiling(${args.mkString(", ")})" }
    q = expandCalls(q, "ceil") { case Seq(x) => s"CAST(__ceil__($x) AS DOUBLE)"
                                 case args => s"ceil(${args.mkString(", ")})" }
    q = expandCalls(q, "floor") { case Seq(x) => s"CAST(__floor__($x) AS DOUBLE)"
                                  case args => s"floor(${args.mkString(", ")})" }
    q = q.replace("__ceil__(", "ceil(").replace("__floor__(", "floor(")
    // reference concat skips nulls (ConcatFunctionFactory appends
    // nothing for a null arg); Spark's concat nulls the whole result
    q = expandCalls(q, "concat") { args => s"concat_ws('', ${args.mkString(", ")})" }
    // reference length() of a null string/binary is -1, not null
    // (functions/str/LengthFunctionFactories); sentinel avoids
    // self-re-expansion
    q = expandCalls(q, "length") { case Seq(x) => s"coalesce(__len__($x), -1)"
                                   case args => s"__len__(${args.mkString(", ")})" }
    q = q.replace("__len__(", "length(")
    q = expandCalls(q, "mid") { case Seq(b, a) => s"((${d(b)} + ${d(a)}) / 2.0)" }
    q = expandCalls(q, "spread") { case Seq(b, a) => s"(${d(a)} - ${d(b)})" }
    q = expandCalls(q, "spread_bps") { case Seq(b, a) =>
      s"((${d(a)} - ${d(b)}) / ((${d(b)} + ${d(a)}) / 2.0) * 10000.0)" }
    q = expandCalls(q, "wmid") { case Seq(bsz, b, a, asz) =>
      s"((${d(b)} * ${d(asz)} + ${d(a)} * ${d(bsz)}) / (${d(bsz)} + ${d(asz)}))" }
    q = expandCalls(q, "haversine_dist_deg") { case Seq(lat1, lon1, lat2, lon2) =>
      s"(2 * 6371008.8 * asin(sqrt(pow(sin(radians($lat2 - ($lat1)) / 2), 2)" +
        s" + cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians($lon2 - ($lon1)) / 2), 2))))" }
    // numeric → timestamp casts are MICROSECONDS in the reference
    // (TimestampDriver.fromLong), while Spark's CAST reads seconds:
    // dispatch on the runtime type, with literals resolved statically
    q = expandCalls(q, "__ts_us_cast") { case Seq(x) => tsUsCast(x) }
    q = expandCalls(q, "cast") { case Seq(inner) =>
      val m = """(?is)^(.*\S)\s+AS\s+TIMESTAMP\s*$""".r.findFirstMatchIn(inner)
      val mn = """(?is)^(.*\S)\s+AS\s+TIMESTAMP_NS\s*$""".r.findFirstMatchIn(inner)
      // GEOHASH(Nc) chars; GEOHASH(Nb) bits = N/5 chars (reference
      // ColumnType.getGeoHashBits — sub-5-bit tails truncate)
      val g = """(?is)^(.*\S)\s+AS\s+GEOHASH\s*\(\s*(\d+)\s*([cb])\s*\)\s*$""".r
        .findFirstMatchIn(inner)
      // p > 38 decimal targets ride the decimal-string carrier (exact
      // text at the asked scale, HALF_UP like the reference's Decimal256
      // rescale; WindowDecimalFunctionTest:8823, AvgDecimalRescale CTAS)
      val wd = """(?is)^(.*\S)\s+AS\s+(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)\s*$""".r
        .findFirstMatchIn(inner).filter(_.group(2).toInt > 38)
      // ≤38-digit decimal targets with a DOUBLE/FLOAT operand TRUNCATE
      // the Ryu shortest representation to the asked scale (reference
      // Numbers.doubleToDecimal lossy path drops excess digits —
      // CastDoubleToDecimalFunctionFactoryTest testLossy: 123.456 at
      // scale 2 is 123.45, not HALF_UP's .46); other operands keep
      // Spark's decimal cast
      val nd = """(?is)^(.*\S)\s+AS\s+(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*$""".r
        .findFirstMatchIn(inner).filter(_.group(2).toInt <= 38)
      val l256 = """(?is)^(.*\S)\s+AS\s+LONG256\s*$""".r.findFirstMatchIn(inner)
      val dt = """(?is)^(.*\S)\s+AS\s+DATE\s*$""".r.findFirstMatchIn(inner)
      val sv = """(?is)^(.*\S)\s+AS\s+(STRING|VARCHAR|__VC__)\s*$""".r.findFirstMatchIn(inner)
      val sy = """(?is)^(.*\S)\s+AS\s+SYMBOL\s*$""".r.findFirstMatchIn(inner)
      val ch = """(?is)^(.*\S)\s+AS\s+CHAR\s*$""".r.findFirstMatchIn(inner)
      // explicit double casts keep their user-intent marker so the
      // integer-division rule skips them (reference: explicit
      // cast-to-double divides fractionally, bare int/int integrally)
      val dbl = """(?is)^(.*\S)\s+AS\s+DOUBLE\s*$""".r.findFirstMatchIn(inner)
      val iv = """(?is)^(.*\S)\s+AS\s+IPV4\s*$""".r.findFirstMatchIn(inner)
      // BOOLEAN/BYTE/SHORT carry no null in the reference (ColumnType
      // nullability; NullLiteralsTest): null input lands as false / 0
      val nn = """(?is)^(.*\S)\s+AS\s+(BOOLEAN|BYTE|SHORT)\s*$""".r.findFirstMatchIn(inner)
      if (nd.isDefined) {
        val t = nd.get
        val (x, p, sc) = (t.group(1), t.group(2).toInt, t.group(3).toInt)
        // literal operands fold here (truncation on the literal text IS
        // the Ryu-shortest truncation), keeping downstream form parsers'
        // shallow grammar intact (SAMPLE BY FILL — SampleByFillTest:209)
        val opnd = {
          var s0 = x.trim
          while (s0.startsWith("(") && s0.endsWith(")")) s0 = s0.substring(1, s0.length - 1).trim
          s0
        }
        val litVal =
          if (opnd.matches("'[^']*'")) Some(opnd.substring(1, opnd.length - 1))
          else if (opnd.matches("-?\\d+(?:\\.\\d+)?(?:BD)?")) Some(opnd.stripSuffix("BD"))
          else None
        litVal.flatMap { v =>
          try Some("__QCAST__('" + new java.math.BigDecimal(v)
            .setScale(sc, java.math.RoundingMode.DOWN).toPlainString +
            s"' AS DECIMAL($p, $sc))")
          catch { case _: NumberFormatException | _: ArithmeticException => None }
        }.getOrElse(
          s"(CASE WHEN typeof($x) IN ('double', 'float') THEN " +
            s"__QCAST__((decimal256_round_down(__QCAST__(($x) AS STRING), $sc)) AS DECIMAL($p, $sc)) " +
            s"ELSE __QCAST__(($x) AS DECIMAL($p, $sc)) END)")
      }
      else if (wd.isDefined) {
        // p > 38 decimal target: decimal-string carrier, exact text at
        // the asked scale (HALF_UP, reference Decimal256 rescale —
        // WindowDecimalFunctionTest:8823, AvgDecimalRescale CTAS).
        // Literal operands fold HERE: a quoted carrier literal keeps the
        // downstream form parsers' shallow paren grammar intact (SAMPLE
        // BY FILL — SampleByFillTest:231) and numeric literals keep
        // every digit instead of riding a DOUBLE (SampleByFillPrev:805)
        val t = wd.get
        val sc = Option(t.group(3)).map(_.toInt).getOrElse(0)
        val opnd = {
          var s0 = t.group(1).trim
          while (s0.startsWith("(") && s0.endsWith(")")) s0 = s0.substring(1, s0.length - 1).trim
          s0
        }
        val litVal =
          if (opnd.matches("'[^']*'")) Some(opnd.substring(1, opnd.length - 1))
          else if (opnd.matches("-?\\d+(?:\\.\\d+)?(?:BD)?")) Some(opnd.stripSuffix("BD"))
          else None
        litVal.flatMap { v =>
          try Some("'" + new java.math.BigDecimal(v)
            .setScale(sc, java.math.RoundingMode.HALF_UP).toPlainString + "'")
          catch { case _: NumberFormatException | _: ArithmeticException => None }
        }.getOrElse(s"decimal256_round(__QCAST__((${t.group(1)}) AS STRING), $sc)")
      }
      else if (dbl.isDefined) s"__graft_dbl((${dbl.get.group(1)}))"
      else if (nn.isDefined) {
        val t = nn.get
        val (x, tpe) = (t.group(1), t.group(2).toUpperCase)
        val sparkT = if (tpe == "BOOLEAN") "BOOLEAN" else if (tpe == "BYTE") "TINYINT" else "SMALLINT"
        val dflt = if (tpe == "BOOLEAN") "false" else s"CAST(0 AS $sparkT)"
        if (tpe == "BOOLEAN") {
          // VALUE-based truthiness (reference CastDateToBoolean /
          // CastLong256ToBoolean — CastTest:1676/3908 expect != 0).
          // Every branch must ANALYZE for the operand's static type, so
          // normalize through the always-valid string form first:
          // datetimes re-parse and test the epoch, the 0x long256
          // carrier tests its hex digits, everything else tries the
          // boolean spelling then numeric truthiness
          val s0 = s"lower(__QCAST__(($x) AS STRING))"
          s"coalesce((CASE" +
            s" WHEN typeof($x) IN ('timestamp', 'timestamp_ntz', 'date')" +
            s" THEN unix_micros(__QCAST__(($s0) AS TIMESTAMP)) != 0" +
            s" WHEN $s0 LIKE '0x%' THEN regexp_replace($s0, '^0x0*', '') != ''" +
            // the null-double guard matters: the dialect's value-based
            // compare makes NULL-double != 0 TRUE (double null = NaN in
            // the reference), but a non-castable/null operand is FALSE
            // as a boolean (CastStrToBoolean)
            s" ELSE coalesce(__QCAST__(($s0) AS BOOLEAN)," +
            s" CASE WHEN __QCAST__(($s0) AS DOUBLE) IS NULL THEN false" +
            s" ELSE __QCAST__(($s0) AS DOUBLE) != 0 END) END), false)"
        }
        else s"coalesce(__QCAST__(($x) AS $sparkT), $dflt)"
      } else (m, mn, g, l256, dt) match {
        case (Some(t), _, _, _, _) => tsUsCast(t.group(1))
        case (_, Some(t), _, _, _) => nsCast(t.group(1))
        case (_, _, Some(gh), _, _) =>
          val n = gh.group(2).toInt
          if (gh.group(3).equalsIgnoreCase("b") && n % 5 != 0) geoCastBits(gh.group(1), n)
          else geoCast(gh.group(1), if (gh.group(3).equalsIgnoreCase("b")) n / 5 else n)
        case (_, _, _, Some(t), _) =>
          // canonical 0x LONG256 carrier: numerics render the 64-hex
          // padded form; strings ARE the carrier — canonicalize the
          // spelling only (lowercase, 0x prefix; SampleByFillTest:828
          // `cast('0x01' AS LONG256)` keys render back as 0x01)
          val x = t.group(1)
          s"(CASE WHEN ($x) IS NULL THEN NULL " +
            s"WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint') THEN " +
            s"concat('0x', repeat('0', 48), lower(lpad(hex(__QCAST__(($x) AS BIGINT)), 16, '0'))) " +
            s"ELSE concat('0x', lower(regexp_replace(__QCAST__(($x) AS STRING), '^(?i)0x', ''))) END)"
        case (_, _, _, _, Some(t)) => dateMsCast(t.group(1))
        case _ if iv.isDefined =>
          // IPV4 rides its dotted-string carrier: numerics render via
          // ipv4_long_to_str, strings pass through; 0.0.0.0 IS the null
          val x = iv.get.group(1)
          s"(CASE WHEN typeof($x) IN ('int', 'bigint')" +
            s" THEN nullif(ipv4_long_to_str(CAST($x AS BIGINT) & 4294967295), '0.0.0.0')" +
            s" ELSE nullif(__QCAST__(($x) AS STRING), '0.0.0.0') END)"
        case _ if ch.isDefined =>
          // CHAR cast: numerics are char CODES (0 = the null char);
          // strings truncate to their first char
          val x = ch.get.group(1)
          s"(CASE WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint', 'float', 'double')" +
            s" THEN IF(CAST($x AS INT) = 0, CAST(NULL AS STRING), chr(CAST($x AS INT)))" +
            s" ELSE nullif(substring(__QCAST__(($x) AS STRING), 1, 1), '') END)"
        case _ if sy.isDefined =>
          // symbol casts of datetimes render the RAW LONG (reference
          // CastTimestampToSymbol / CastDateToSymbol — CastTest
          // (d)::SYMBOL shows -1, not the ISO text); others ride string
          val x = sy.get.group(1)
          s"(CASE WHEN typeof($x) = 'timestamp' THEN CAST(unix_micros(__QCAST__(($x) AS TIMESTAMP)) AS STRING)" +
            s" WHEN typeof($x) = 'timestamp_ntz' THEN CAST(unix_millis(__QCAST__(($x) AS TIMESTAMP)) AS STRING)" +
            s" ELSE __QCAST__(($x) AS STRING) END)"
        case _ if sv.isDefined =>
          // timestamp→string renders the reference USEC/MSEC UTC pattern
          // (Numbers/TimestampFormatUtils), not Spark's space-separated
          // default. qdb_str dispatches on the resolved type at plan
          // time (RuntimeReplaceable), so non-timestamp operands cast
          // natively with no analysis failure.
          val x = sv.get.group(1)
          val tgtVarchar = sv.get.group(2).equalsIgnoreCase("VARCHAR") ||
            sv.get.group(2).equalsIgnoreCase("__VC__")
          // CONSTANT datetime casts fold to the raw long text in the
          // reference's VARCHAR factories and in date-to-str — only
          // timestamp/ns to STRING keep the ISO pattern (CastTest
          // {Date,Timestamp,TimestampNs}To{Str,Varchar}Const)
          val constDt = """(?is)^cast\s*\(\s*(-?\d+)[lL]?\s+as\s+(date|timestamp|timestamp_ns)\s*\)$"""
            .r.findFirstMatchIn(x)
          // the inner constant cast may arrive ALREADY EXPANDED
          // (timestamp_micros(CAST(n AS BIGINT)) / the ns BIGINT
          // carrier) — same folding quirk, same raw-long text
          // (CastTest testTimestampNsToVarcharConst)
          val constUs = """(?is)^timestamp_micros\(\s*cast\s*\(\s*(-?\d+)\s+as\s+bigint\s*\)\s*\)$"""
            .r.findFirstMatchIn(x)
          val constNs = """(?is)^cast\s*\(\s*(-?\d+)\s+as\s+bigint\s*\)$"""
            .r.findFirstMatchIn(x)
          if (x.startsWith("'") || x.matches("-?\\d+(\\.\\d+)?[LlDd]?"))
            s"__QCAST__(($x) AS STRING)" // sizeless VARCHAR would not parse
          else if (constDt.exists(cm => tgtVarchar || cm.group(2).equalsIgnoreCase("date")))
            s"'${constDt.get.group(1)}'"
          else if (tgtVarchar && (constUs.isDefined || constNs.isDefined))
            s"'${constUs.orElse(constNs).get.group(1)}'"
          else if ("""(?i)::\s*timestamp_ns\b|to_timestamp_ns\s*\(|__ns_cast\s*\(|__ns_at_tz\s*\(|as\s+timestamp_ns\s*\)"""
              .r.findFirstIn(x).isDefined)
            s"__ns_str($x)" // BIGINT nanos carrier renders the 9-digit pattern
          else s"qdb_str($x)"
        case _ => s"cast($inner)"
      }
    }
    // tsUsCast spells its own timestamp casts with the __QCAST__ sentinel
    // so the cast pass above cannot re-expand its output (each re-entry
    // doubled the cast sites — a SELECT with a handful of numeric
    // timestamp casts exploded into a StackOverflow); restore them here.
    // any __VC__ target the sv branch did not consume restores to STRING
    q = q.replaceAll("(?i)\\bAS\\s+__VC__", "AS STRING")
    q = q.replace("__QCAST__(", "CAST(")
    // reference datetime patterns treat T/Z as literals; Spark needs
    // them quoted ('yyyy-MM-ddTHH:mm:ss' → yyyy-MM-dd'T'HH:mm:ss); the
    // full reference token table translates via refDateFmt
    def fixDtPattern(fmt: String): String = {
      val raw = stripQuotes(fmt)
      // a quote in the pattern = this site was already translated (the
      // expandCalls fixpoint loop re-visits rewritten sites)
      if (raw.contains("'")) fmt
      else {
        val f = refDateFmt(raw)
        if (f == raw) fmt else s"'${f.replace("'", "''")}'"
      }
    }
    for (fn <- Seq("to_timestamp", "to_date")) {
      q = expandCalls(q, fn) {
        case Seq(x, fmt) if fmt.trim.startsWith("'") =>
          val fixed = fixDtPattern(fmt.trim)
          if (fixed == fmt.trim) s"$fn($x, ${fmt.trim})" else s"$fn($x, $fixed)"
        case args => s"$fn(${args.mkString(", ")})"
      }
    }
    q = expandCalls(q, "timestamp_floor") { args => floorExpr(args, toUtc = false) }
    q = expandCalls(q, "timestamp_ceil") { case Seq(stride, ts) =>
      val su = """(\d+)?\s*([UTsmhdwMyn])""".r.findFirstMatchIn(stripQuotes(stride).trim)
        .getOrElse(throw new IllegalArgumentException(s"bad stride '${stripQuotes(stride)}'"))
      val nC = Option(su.group(1)).map(_.toLong).getOrElse(1L)
      su.group(2) match {
        case "M" | "y" =>
          // ceil to the next calendar grid point unless already on it
          val nm = (if (su.group(2) == "M") 1 else 12) * nC
          val t = s"CAST($ts AS TIMESTAMP)"
          val months = s"((year($t) - 1970) * 12 + month($t) - 1)"
          val fl = s"(CAST(floor($months / $nm) AS BIGINT) * $nm)"
          val floor = s"make_timestamp(1970 + CAST(floor($fl / 12) AS INT), CAST($fl % 12 AS INT) + 1, 1, 0, 0, 0)"
          s"(CASE WHEN $floor = $t THEN $t ELSE add_months($floor, $nm) END)"
        case "n" =>
          val nsOf = s"(CASE WHEN typeof($ts) = 'bigint' THEN CAST($ts AS BIGINT) " +
            s"ELSE unix_micros(CAST($ts AS TIMESTAMP)) * 1000 END)"
          s"($nsOf + (($nC - $nsOf % $nC) % $nC))"
        case _ =>
          val us = strideToMicros(stripQuotes(stride))
          s"timestamp_micros(CAST(unix_micros($ts) + (($us - unix_micros($ts) % $us) % $us) AS BIGINT))"
      } }
    q = expandCalls(q, "dateadd") { case Seq(unit, n, ts) =>
      val t = s"CAST($ts AS TIMESTAMP)"
      stripQuotes(unit) match {
        case "M" => s"($t + make_interval(0, $n))"
        case "y" => s"($t + make_interval($n))"
        // widen n BEFORE the multiply — an INT count times unit-micros
        // overflows 32 bits past ~35 minutes (reference multiplies long)
        case u => s"timestamp_micros(CAST(unix_micros($t) + CAST($n AS BIGINT) * ${unitMicros(u)} AS BIGINT))"
      } }
    q = expandCalls(q, "datediff") { case Seq(unit, a, b) =>
      // Reference getPeriodBetween (std/datetime/microtime/Micros.java:764):
      // ABS of complete elapsed periods; months/years are calendar-aware.
      // BIGINT operands are TIMESTAMP_NS values (nanos-since-epoch, the
      // ns surface's carrier type); everything else goes through the
      // timestamp cast (cast pass already ran, no re-entry).
      def us(x: String) =
        s"(CASE WHEN typeof($x) = 'bigint' THEN CAST($x AS BIGINT) div 1000" +
          s" ELSE unix_micros(CAST(($x) AS TIMESTAMP)) END)"
      def ns(x: String) =
        s"(CASE WHEN typeof($x) = 'bigint' THEN CAST($x AS BIGINT)" +
          s" ELSE unix_micros(CAST(($x) AS TIMESTAMP)) * 1000 END)"
      def ts(x: String) =
        s"(CASE WHEN typeof($x) = 'bigint'" +
          s" THEN timestamp_micros(CAST($x AS BIGINT) div 1000)" +
          s" ELSE CAST(($x) AS TIMESTAMP) END)"
      stripQuotes(unit) match {
        case "n" => s"abs(${ns(b)} - ${ns(a)})"
        case "M" => s"CAST(floor(abs(months_between(${ts(b)}, ${ts(a)}))) AS BIGINT)"
        case "y" => s"CAST(floor(abs(months_between(${ts(b)}, ${ts(a)})) / 12) AS BIGINT)"
        case u0 => s"(abs(${us(b)} - ${us(a)}) div ${unitMicros(u0)})"
      } }
    q = expandCalls(q, "to_timezone") { case Seq(ts, tz) =>
      s"from_utc_timestamp(${tsUsCast(ts)}, ${normTzArg(tz)})" }
    q = expandCalls(q, "to_utc") { case Seq(ts, tz) =>
      s"to_utc_timestamp(${tsUsCast(ts)}, ${normTzArg(tz)})" }
    // geo plane/latlon predicates (reference functions/geo: equirectangular
    // meters-per-degree approximation, midpoint latitude for distances,
    // center latitude for radius checks; NaN → false/NaN, negative radius
    // → false)
    q = expandCalls(q, "geo_distance_meters") { case Seq(lat1, lon1, lat2, lon2) =>
      s"sqrt(pow(($lon2 - ($lon1)) * 111320.0 * cos(radians((($lat1) + ($lat2)) * 0.5)), 2)" +
        s" + pow(($lat2 - ($lat1)) * 111320.0, 2))" }
    q = expandCalls(q, "geo_within_radius_latlon") { case Seq(lat, lon, clat, clon, r) =>
      s"(($r) >= 0 AND pow(($lon - ($clon)) * 111320.0 * cos(radians($clat)), 2)" +
        s" + pow(($lat - ($clat)) * 111320.0, 2) <= ($r) * ($r))" }
    q = expandCalls(q, "within_radius") { case Seq(x, y, cx, cy, r) =>
      s"(($r) >= 0 AND pow(($x) - ($cx), 2) + pow(($y) - ($cy), 2) <= ($r) * ($r))" }
    q = expandCalls(q, "within_box") { case Seq(x, y, minx, miny, maxx, maxy) =>
      s"(($x) BETWEEN ($minx) AND ($maxx) AND ($y) BETWEEN ($miny) AND ($maxy))" }
    // rounding modes (reference functions/math Round{Up,Down,HalfEven}):
    // up = away from zero, down = toward zero, half_even = banker's —
    // via the reference's pow10-LUT double scheme so artifacts match
    // (functions/RefRound.scala)
    // CONSTANT round(x, n) folds with the reference's pow10-LUT double
    // scheme (RoundDoubleFunctionFactoryConstTest: artifacts and the
    // |scale|>=18 null); runtime round keeps Spark's exact rounding
    q = expandCalls(q, "round") {
      case Seq(x, n) if x.trim.matches("-?\\d+(\\.\\d+)?[DdFf]?") &&
          n.trim.matches("-?\\d+") =>
        val v = x.trim.replaceAll("[DdFf]$", "").toDouble
        val r = graft.functions.RefRound.roundHalfUp(v, n.trim.toInt)
        if (r.isNaN) "CAST(NULL AS DOUBLE)"
        else s"CAST('$r' AS DOUBLE)" // string form round-trips exactly (incl -0.0, E-notation)
      case args => s"__round__(${args.mkString(", ")})"
    }
    q = q.replace("__round__(", "round(")
    q = expandCalls(q, "round_up") { case Seq(x, n) =>
      s"__ref_round(1, CAST($x AS DOUBLE), CAST($n AS INT))" }
    q = expandCalls(q, "round_down") { case Seq(x, n) =>
      s"__ref_round(2, CAST($x AS DOUBLE), CAST($n AS INT))" }
    q = expandCalls(q, "round_half_even") { case Seq(x, n) =>
      s"__ref_round(3, CAST($x AS DOUBLE), CAST($n AS INT))" }
    // strings / hashes / dates with non-Spark names
    q = expandCalls(q, "to_uppercase") { case Seq(s) => s"upper($s)" }
    q = expandCalls(q, "to_lowercase") { case Seq(s) => s"lower($s)" }
    q = expandCalls(q, "strpos") { case Seq(s, sub) => s"instr($s, $sub)" }
    q = expandCalls(q, "sha256") { case Seq(s) => s"sha2($s, 256)" }
    q = expandCalls(q, "to_str") { case Seq(ts, fmt) =>
      s"date_format($ts, ${if (fmt.trim.startsWith("'")) s"'${refDateFmt(stripQuotes(fmt.trim)).replace("'", "''")}'" else fmt})" }
    q = expandCalls(q, "to_char") { case Seq(ts, fmt) =>
      s"date_format($ts, ${if (fmt.trim.startsWith("'")) s"'${refDateFmt(stripQuotes(fmt.trim)).replace("'", "''")}'" else fmt})" }
    q = expandCalls(q, "week_of_year") { case Seq(ts) => s"weekofyear($ts)" }
    q = expandCalls(q, "systimestamp") { _ => "current_timestamp()" }
    q = expandCalls(q, "sysdate") { _ => "current_timestamp()" }
    // date-part extraction + calendar predicates (reference
    // functions/date/{DayOfWeek,DaysPerMonth,IsLeapYear,IsEndOfMonth,
    // MicrosOfMills,MillisOfSecond}FunctionFactory; semantics from
    // std/datetime/microtime/Micros.java:562-690 — Monday-first=1,
    // floor-mod components)
    q = expandCalls(q, "day_of_week") { case Seq(ts) =>
      s"CAST(pmod(dayofweek($ts) + 5, 7) + 1 AS INT)" }
    q = expandCalls(q, "day_of_week_sunday_first") { case Seq(ts) =>
      s"CAST(dayofweek($ts) AS INT)" }
    // calendar predicates accept the BIGINT nanos carrier too
    // (IsEndOfMonthFunctionFactoryTest ::timestamp_ns operands)
    def calTs(x: String): String =
      if ("""(?i)__ns_cast\s*\(|__ns_at_tz\s*\(|::\s*timestamp_ns\b|to_timestamp_ns\s*\("""
          .r.findFirstIn(x).isDefined) s"timestamp_micros(($x) div 1000)"
      else x
    // sign keeps the operand's integer type and maps both double zeros
    // to +0.0 (reference Sign*FunctionFactory; SignFunctionFactoryTest)
    q = expandCalls(q, "sign") { case Seq(x) => s"__ref_sign($x)"
                                 case args => s"__sign__(${args.mkString(", ")})" }
    q = q.replace("__sign__(", "sign(")
    q = expandCalls(q, "days_in_month") { case Seq(ts) => s"day(last_day(${calTs(ts)}))" }
    q = expandCalls(q, "is_leap_year") { case Seq(ts0) =>
      val ts = calTs(ts0)
      s"((year($ts) % 4 = 0 AND year($ts) % 100 != 0) OR year($ts) % 400 = 0)" }
    q = expandCalls(q, "is_end_of_month") { case Seq(ts0) =>
      // a null operand is FALSE, not null (reference
      // IsEndOfMonthFunctionFactory boolean has no null)
      val ts = calTs(ts0)
      s"(($ts) IS NOT NULL AND day($ts) = day(last_day($ts)))" }
    q = expandCalls(q, "micros") { case Seq(ts) =>
      s"CAST(pmod(unix_micros($ts), 1000) AS INT)" }
    q = expandCalls(q, "millis") { case Seq(ts) =>
      s"CAST(pmod(unix_micros($ts) div 1000, 1000) AS INT)" }
    q = expandCalls(q, "length_bytes") { case Seq(s) => s"octet_length($s)" }
    q = expandCalls(q, "quote_ident") { case Seq(s) =>
      s"""concat('"', replace($s, '"', '""'), '"')""" }
    q = expandCalls(q, "txid_current") { _ => "CAST(0 AS BIGINT)" }
    // glob(value, 'pattern') — * and ? wildcards (reference
    // regex/GlobStrFunctionFactory): constant pattern translated to LIKE
    // with %/_ in the pattern escaped, so it stays a codegen'd LIKE
    q = expandCalls(q, "glob") {
      case Seq(v, pat) =>
        val raw = stripQuotes(pat)
        val esc = raw.replace("\\", "\\\\").replace("%", "\\\\%").replace("_", "\\\\_")
          .replace("*", "%").replace("?", "_").replace("'", "''")
        s"($v LIKE '$esc')"
      // 1-arg form is the filesystem table function — leave for
      // rewriteTableFns (catalogue/GlobFilesFunctionFactory)
      case Seq(p) => s"glob($p)"
    }
    // timestamp_shuffle(lo, hi) — uniform random timestamp in [lo, hi)
    // (reference date/TimestampShuffleFunctionFactory); row-level rand()
    q = expandCalls(q, "timestamp_shuffle") { case Seq(lo, hi) =>
      s"timestamp_micros(CAST(unix_micros(CAST($lo AS TIMESTAMP)) + " +
        s"floor(rand() * (unix_micros(CAST($hi AS TIMESTAMP)) - " +
        s"unix_micros(CAST($lo AS TIMESTAMP)))) AS BIGINT))" }
    q = expandCalls(q, "pg_postmaster_start_time") { _ =>
      s"timestamp_micros(${java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime}000L)" }
    // aggregate spellings the reference registers as dedicated factories
    // (groupby/{Geomean,WeightedAvg}...FunctionFactory) — composable as
    // plain Spark aggregates
    // avg(x, scale) — reference decimal rescale overload
    // (groupby/AvgDecimalRescale...): result rounded HALF_UP to `scale`,
    // which is exactly Spark's decimal(38,scale) cast. The OVER clause
    // (window variant) must stay inside the cast — balanced scan, since
    // a rewritten RANGE frame nests parens arbitrarily deep.
    q = rewriteAvgScale(cat, q)
    q = rewriteWindowSum(cat, q)
    q = rewriteLong256Sum(cat, q, l256Aliases)
    q = rewriteDecimalWideSum(cat, q)
    q = pinScanOrderForSeqAggs(q)
    q = rewriteCorr(q)
    q = rewriteRegrFinite(q)
    // arithmetic over decimal256-string results: '+'/'-'/'*' between two
    // carrier expressions (or a carrier and a numeric literal) routes
    // through the exact decimal256 kernels — a bare string operand would
    // coerce to DOUBLE (WindowDecimalFunctionTest:9543 avg(v256)+1)
    locally {
      val dcall = "decimal256_\\w+\\s*\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*'|\\([^()']*\\))*\\))*\\)" +
        "(?:\\s+OVER\\s*\\((?:[^()]|\\([^()]*\\))*\\))?"
      val num = "-?\\d+(?:\\.\\d+)?|'[^']*'"
      val pat = java.util.regex.Pattern.compile(
        s"(?i)($dcall|$num)\\s*([+*]|-(?!-))\\s*($dcall|$num)")
      var changed = true
      while (changed) {
        val m2 = pat.matcher(q)
        val sb2 = new StringBuffer
        changed = false
        while (m2.find()) {
          val (a, op, b) = (m2.group(1), m2.group(2), m2.group(3))
          val bothNum = !a.toLowerCase.startsWith("decimal256_") &&
            !b.toLowerCase.startsWith("decimal256_")
          val repl =
            if (bothNum) m2.group(0)
            else {
              changed = true
              val fn = op match {
                case "+" => "decimal256_add"
                case "-" => "decimal256_sub"
                case _ => "decimal256_mul"
              }
              s"$fn($a, $b)"
            }
          m2.appendReplacement(sb2, java.util.regex.Matcher.quoteReplacement(repl))
        }
        m2.appendTail(sb2)
        q = sb2.toString
      }
    }
    q = expandCalls(q, "geomean") { case Seq(x) =>
      // non-positive values poison the whole mean (reference Math.log:
      // ln(neg)=NaN, and the -Inf of ln(0) also renders null after exp
      // in the reference's accumulation) — Spark's ln returns NULL for
      // both, which avg would silently SKIP
      s"exp(avg(CASE WHEN ($x) <= 0 THEN CAST('NaN' AS DOUBLE)" +
        s" ELSE ln($x) END))" }
    q = expandCalls(q, "weighted_avg") { case Seq(x, w) =>
      s"(sum(CASE WHEN ($x) IS NOT NULL AND ($w) IS NOT NULL THEN ($x) * ($w) END)" +
        s" / sum(CASE WHEN ($x) IS NOT NULL AND ($w) IS NOT NULL THEN CAST($w AS DOUBLE) END))" }
    q = expandCalls(q, "vwap") { case Seq(p, s) =>
      s"(sum(CASE WHEN ($p) IS NOT NULL AND ($s) IS NOT NULL THEN ($p) * ($s) END)" +
        s" / sum(CASE WHEN ($p) IS NOT NULL AND ($s) IS NOT NULL THEN CAST($s AS DOUBLE) END))" }
    q = expandCalls(q, "starts_with") { case Seq(s, p) =>
      s"(left($s, length($p)) = ($p))" }
    q = expandCalls(q, "make_geohash") { case Seq(lon, lat, bits) =>
      // reference make_geohash(lon, lat, BITS): the precision is in
      // BITS — whole 5-bit groups spell base32 chars, sub-char
      // precisions keep the binary rendering; out-of-range coordinates
      // yield null (GeoHashFromCoordinatesFunctionFactory)
      val guard = s"abs(CAST($lat AS DOUBLE)) > 90.0D OR abs(CAST($lon AS DOUBLE)) > 180.0D"
      def enc(chars: Long) =
        s"geohash_encode(CAST($lat AS DOUBLE), CAST($lon AS DOUBLE), $chars)"
      bits.trim.toLongOption match {
        case Some(b) if b % 5 == 0 =>
          s"(CASE WHEN $guard THEN NULL ELSE ${enc(b / 5)} END)"
        case Some(b) =>
          val full = (b + 4) / 5
          val toBits = s"array_join(transform(split(${enc(full)}, ''), __gc -> " +
            s"IF(__gc = '', '', lpad(bin(locate(__gc, '0123456789bcdefghjkmnpqrstuvwxyz') - 1), 5, '0'))), '')"
          s"(CASE WHEN $guard THEN NULL ELSE substring($toBits, 1, $b) END)"
        case None =>
          s"(CASE WHEN $guard THEN NULL ELSE " +
            s"geohash_encode(CAST($lat AS DOUBLE), CAST($lon AS DOUBLE), CAST(($bits) / 5 AS INT)) END)"
      } }
    // typed json_extract to TIMESTAMP parses NUMERIC json values as
    // epoch micros (reference JsonExtractTypedFunctionFactory double →
    // micros), text values as timestamp text (wrapped pre-AutoAlias)
    q = expandCalls(q, "__jxts") { case Seq(x) =>
      s"(CASE WHEN ($x) RLIKE '^-?[0-9]+(\\\\.[0-9]+)?([eE][-+]?[0-9]+)?$$'" +
        s" THEN timestamp_micros(CAST(CAST(($x) AS DOUBLE) AS BIGINT))" +
        s" ELSE CAST(($x) AS TIMESTAMP) END)" }
    q = expandCalls(q, "json_extract") { case Seq(doc, path) =>
      // the reference accepts `.path` / `[0]` spellings without the `$`
      // root (questdb-rs simd-json paths) — normalize literals
      val p = path.trim
      val norm =
        if (p.startsWith("'") && !p.startsWith("'$'") && !p.startsWith("'$"))
          "'$" + p.stripPrefix("'")
        else p
      s"get_json_object($doc, $norm)" }
    q = expandCalls(q, "timestamp_floor_utc") { args => floorExpr(args, toUtc = true) }
    // l2price(target, size1, price1, ...) — unrolled book sweep
    // (reference finance/LevelTwoPriceFunctionFactory): first level whose
    // cumulative size covers target prices the fill; shortfall → NaN
    q = expandCalls(q, "l2price") {
      case Seq(target, sizes, prices)
          if declaredArrayDims(cat, q, sizes).isDefined ||
            declaredArrayDims(cat, q, prices).isDefined ||
            sizes.trim.matches("(?is)^(element_at|slice|try_element_at)\\(.*") ||
            prices.trim.matches("(?is)^(element_at|slice|try_element_at)\\(.*") =>
        // array book form (reference l2price(D, D[], D[])): sweep the
        // levels until the target fills; avg price of consumed liquidity
        val t = s"CAST($target AS DOUBLE)"
        s"(aggregate(zip_with(CAST($sizes AS ARRAY<DOUBLE>), CAST($prices AS ARRAY<DOUBLE>), " +
          s"(__s, __p) -> named_struct('s', __s, 'p', __p)), " +
          s"named_struct('rem', $t, 'cost', 0D), " +
          s"(__acc, __x) -> named_struct(" +
          s"'rem', greatest(__acc.rem - __x.s, 0D), " +
          s"'cost', __acc.cost + least(__acc.rem, __x.s) * __x.p), " +
          s"__acc -> CASE WHEN __acc.rem > 0 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE __acc.cost / $t END))"
      case target +: pairs if pairs.length >= 2 && pairs.length % 2 == 0 =>
      val t = s"CAST($target AS DOUBLE)"
      val sizes = pairs.grouped(2).map(_.head).toSeq
      val vals = pairs.grouped(2).map(_.last).toSeq
      val branches = sizes.indices.map { k =>
        val cum = sizes.take(k + 1).map(s => s"CAST($s AS DOUBLE)").mkString(" + ")
        val before = sizes.take(k).map(s => s"CAST($s AS DOUBLE)").mkString(" + ")
        val fill =
          if (k == 0) s"(${vals(0)})"
          else {
            val acc = (0 until k).map(i => s"CAST(${sizes(i)} AS DOUBLE) * (${vals(i)})").mkString(" + ")
            s"(($acc + ($t - ($before)) * (${vals(k)})) / $t)"
          }
        s"WHEN ($cum) >= $t THEN $fill"
      }
      s"(CASE ${branches.mkString(" ")} ELSE CAST('NaN' AS DOUBLE) END)" }
    // bar(value, min, max, width) — block-character meter (reference
    // str/BarFunctionFactory): full blocks + one fractional block
    q = expandCalls(q, "bar") { case Seq(v0, mn0, mx0, w0) =>
      val (v, mn, mx, w) = (s"CAST($v0 AS DOUBLE)", s"CAST($mn0 AS DOUBLE)", s"CAST($mx0 AS DOUBLE)", s"CAST($w0 AS INT)")
      val prop = s"((least(greatest($v, $mn), $mx) - $mn) / ($mx - $mn))"
      val whole = s"CAST(floor($prop * $w) AS INT)"
      val fracIdx = s"CAST(floor(($prop * $w - $whole) * 8) AS INT)"
      s"(CASE WHEN isnan($v) OR ($v) IS NULL OR isnan($mn) OR isnan($mx) OR ($mn0) IS NULL OR ($mx0) IS NULL" +
        s" OR $w <= 0 OR $mn >= $mx THEN NULL" +
        s" ELSE concat(repeat('█', $whole)," +
        s" CASE WHEN $whole < $w AND $fracIdx > 0 THEN substring('▁▂▃▄▅▆▇█', $fracIdx, 1) ELSE '' END) END)" }
    q = expandCalls(q, "transpose") { case Seq(m0) =>
      // rank dispatch is static in Spark: a declared 1-D column
      // transposes to itself (reference transpose on a vector is
      // identity); anything else takes the 2-D path
      if (declaredArrayDims(cat, q, m0).contains(1)) s"($m0)"
      else {
        // seqTo(n): [1..n], empty when n ≤ 0 (size of an empty/null row
        // is 0/-1 — a plain sequence(1, 0) would step DOWN to [1, 0])
        val n = s"size(element_at($m0, 1))"
        s"(CASE WHEN ($m0) IS NULL THEN NULL ELSE " +
          s"transform(slice(sequence(1, greatest($n, 1)), 1, greatest($n, 0)), __i -> " +
          s"transform($m0, __r -> element_at(__r, __i))) END)"
      } }
    // reference flatten() is full row-major flattening over every dim
    // (ArrayFlattenFunctionFactory) — Spark's removes one level only
    q = expandCalls(q, "flatten") { case Seq(a) => s"__graft_flat($a)" }
    q = expandCalls(q, "matmul") { case Seq(a0, b0) =>
      // (n×k)·(k×m) over 2-D arrays (reference MatMulFunctionFactory);
      // 1-D operands rank-promote (left → 1×m row, right → k×1 column,
      // so mat·vec yields an n×1 column); null operand → null, empty
      // inner dim → empty rows
      val a = s"__graft_mat2dl($a0)"
      val b = s"__graft_mat2dr($b0)"
      val n = s"size(element_at($b, 1))"
      s"(CASE WHEN ($a) IS NULL OR ($b) IS NULL THEN NULL ELSE " +
        s"transform($a, __ar -> " +
        s"transform(slice(sequence(1, greatest($n, 1)), 1, greatest($n, 0)), __j -> " +
        s"aggregate(zip_with(__ar, transform($b, __br -> element_at(__br, __j)), " +
        s"(__x, __y) -> __x * __y), 0D, (__acc, __v) -> __acc + __v))) END)" }
    q = expandCalls(q, "string_distinct_agg") { case Seq(x, sep) =>
      s"array_join(array_distinct(collect_list($x)), $sep)" }
    q = expandCalls(q, "isOrdered") { case Seq(x) =>
      s"(collect_list($x) = array_sort(collect_list($x)))" }
    // array_agg over an ARRAY column concatenates (reference
    // ArrayAggDoubleArrayGroupByFunction flattens into one vector);
    // empty/all-null groups yield null. __graft_flat is identity on
    // scalar aggregation results.
    q = expandCalls(q, "array_agg") {
      case Seq(x) if !x.trim.toUpperCase.startsWith("DISTINCT") =>
        // __ARRAGG__ sentinel: the replacement must not re-enter this pass
        val bare = x.trim
        // array-valued args: declared array columns, array-yielding
        // expressions (transpose/slice/ARRAY literals), and select
        // aliases bound to such expressions in the same statement
        val isArrayExpr =
          """(?is)^(ARRAY\s*\[|transpose\s*\()""".r.findFirstIn(bare).isDefined ||
            bare.matches("""(?s)[\w.]+\s*\[.*\]\s*""") ||
            """(?i)\btranspose\s*\(""".r.findFirstIn(bare).isDefined
        val aliasArray = bare.matches("\\w+") && {
          ("(?is)(ARRAY\\s*\\[|transpose\\s*\\(|array_agg\\s*\\()[^,]*?\\s+(?:AS\\s+)?" +
            java.util.regex.Pattern.quote(bare) + "\\b").r.findFirstIn(q).isDefined
        }
        // a SUBSCRIPTED arg arrives here already lowered (the subscript
        // pass runs first): try_element_at over a declared N-dim column
        // still yields an array when dims - subscripts ≥ 1
        // (ArrayAggDoubleArrayGroupByFunctionFactoryTest:484
        // `array_agg(transpose(m)[1])`)
        val subscriptedArray = bare.contains("try_element_at") && {
          val subs = "try_element_at\\s*\\(".r.findAllIn(bare).size
          val dims = "[A-Za-z_][\\w.]*".r.findAllIn(bare)
            .flatMap(t => declaredArrayDims(cat, q, t)).maxOption.getOrElse(0)
          dims - subs >= 1
        }
        val isArrayCol = declaredArrayDims(cat, q, bare).exists(_ > 0) ||
          isArrayExpr || aliasArray || subscriptedArray
        if (isArrayCol)
          s"IF(size(__graft_flat(__ARRAGG__($x))) = 0, NULL, __graft_flat(__ARRAGG__($x)))"
        else {
          // scalar inputs keep their NULL entries — the reference emits
          // [1.0,null,3.0] and [null,null,null]
          // (ArrayAggDoubleGroupByFunctionFactoryTest) — via a struct
          // carrier (bare nulls would be dropped by the aggregate), and
          // integral inputs ride the DOUBLE factory
          val strCol = bare.matches("[\\w.]+") && {
            val ts = cat.declaredTypesOf(bare.split('.').last.toLowerCase)
            ts.nonEmpty && ts.forall(t => t.startsWith("STRING") || t.startsWith("VARCHAR") ||
              t.startsWith("SYMBOL") || t.startsWith("CHAR") || t.startsWith("UUID"))
          }
          val elem = if (strCol) s"($x)" else s"CAST(($x) AS DOUBLE)"
          val agg = s"__ARRAGG__(named_struct('v', $elem))"
          s"IF(size($agg) = 0, NULL, transform($agg, __s -> __s.v))"
        }
      case args => s"array_agg(${args.mkString(", ")})"
    }
    q = q.replace("__ARRAGG__(", "array_agg(")
    // sparkline(x) — per-group block chart in row order (reference
    // groupby/SparklineGroupByFunction.charForValue: clamp, scale to 8
    // levels over the group's min..max)
    // twap(price, ts) — reference TwapGroupByFunction: area under the
    // step function, sum(price_i * (ts_{i+1} - ts_i)) / (ts_last -
    // ts_first); same-timestamp groups fall back to the plain average
    q = expandCalls(q, "twap") { case Seq(p, ts) =>
      val srt = s"array_sort(collect_list(named_struct(" +
        s"'t', unix_micros(CAST($ts AS TIMESTAMP)), 'p', CAST($p AS DOUBLE))))"
      s"(CASE WHEN size($srt) <= 1 OR element_at($srt, -1).t = element_at($srt, 1).t" +
        s" THEN avg(CAST($p AS DOUBLE))" +
        s" ELSE aggregate(zip_with(slice($srt, 1, size($srt) - 1), slice($srt, 2, size($srt) - 1)," +
        s" (__a, __b) -> __a.p * (__b.t - __a.t)), 0D, (__acc, __v) -> __acc + __v)" +
        s" / (element_at($srt, -1).t - element_at($srt, 1).t) END)" }
    q = expandCalls(q, "sparkline") { case args if args.nonEmpty && args.size <= 4 =>
      // sparkline(D) / sparkline(D, min, max, width) — reference
      // Sparkline[WithParams]GroupByFunctionFactory. Zero range renders
      // FULL blocks (charForValue range==0 branch); width < n
      // subsamples by bucket average, width >= n is one char per value.
      val x = args(0)
      def opt(i: Int) = args.lift(i).map(_.trim).filterNot(_.equalsIgnoreCase("NULL"))
      val cl = s"collect_list(CAST($x AS DOUBLE))"
      val mn = opt(1).map(a => s"CAST($a AS DOUBLE)").getOrElse(s"array_min($cl)")
      val mx = opt(2).map(a => s"CAST($a AS DOUBLE)").getOrElse(s"array_max($cl)")
      val vals = opt(3) match {
        case None => cl
        case Some(w0) =>
          val w = s"CAST($w0 AS INT)"
          val from = s"CAST(floor(__i * size($cl) / $w) AS INT)"
          val to = s"CAST(floor((__i + 1) * size($cl) / $w) AS INT)"
          s"(CASE WHEN $w >= size($cl) THEN $cl ELSE " +
            s"transform(sequence(0, $w - 1), __i -> " +
            s"aggregate(slice($cl, $from + 1, $to - $from), 0D, (__a, __v) -> __a + __v)" +
            s" / ($to - $from)) END)"
      }
      s"(CASE WHEN size($cl) = 0 THEN NULL" +
        s" ELSE concat_ws('', transform($vals, v -> " +
        s"CASE WHEN ($mx) = ($mn) THEN '█' ELSE substring('▁▂▃▄▅▆▇█'," +
        s" least(CAST(floor((least(greatest(v, $mn), $mx) - ($mn))" +
        s" / (($mx) - ($mn)) * 7) AS INT), 7) + 1, 1) END)) END)" }
    // ipv4 (reference functions/math IPv4*NetmaskFunctionFactory and the
    // `<<`/`<<=` containment operators — function forms here; addresses
    // ride as BIGINT or dotted strings). ipv4_contains expands FIRST so
    // the netmask()/ipv4_str_to_long() calls it emits expand below.
    // date_trunc over the BIGINT nanos carrier truncates in ns and keeps
    // the carrier (TimestampAtTimeZoneTest:104) — sub-µs units already
    // ride exact in the carrier
    q = expandCalls(q, "date_trunc") {
      case Seq(u, x) if """(?i)__ns_cast\s*\(|__ns_at_tz\s*\(|::\s*timestamp_ns\b|to_timestamp_ns\s*\("""
          .r.findFirstIn(x).isDefined =>
        s"(unix_micros(__dtrunc__($u, timestamp_micros(($x) div 1000))) * 1000)"
      case args => s"__dtrunc__(${args.mkString(", ")})" // sentinel: no self-re-expansion
    }
    q = q.replace("__dtrunc__(", "date_trunc(")
    // ns-carrier AT TIME ZONE: shift the BIGINT nanos by the zone offset
    // at that instant (offset derived at µs precision, scaled to ns)
    q = expandCalls(q, "__ns_at_tz") { case Seq(x, tz) =>
      s"(($x) + (unix_micros(from_utc_timestamp(timestamp_micros(($x) div 1000), $tz))" +
        s" - (($x) div 1000)) * 1000)" }
    // ns-carrier to string: the reference NSEC_UTC pattern
    q = expandCalls(q, "__ns_str") { case Seq(x) =>
      s"concat(date_format(timestamp_micros((($x) div 1000000000) * 1000000)," +
        s" 'yyyy-MM-dd''T''HH:mm:ss.'), lpad(CAST(pmod($x, 1000000000) AS STRING), 9, '0'), 'Z')" }
    // `expr::symbol` — same typed dispatch as CAST(… AS SYMBOL)
    q = expandCalls(q, "__sym_cast") { case Seq(x) =>
      s"(CASE WHEN typeof($x) = 'timestamp' THEN CAST(unix_micros(CAST(($x) AS TIMESTAMP)) AS STRING)" +
        s" WHEN typeof($x) = 'timestamp_ntz' THEN CAST(unix_millis(CAST(($x) AS TIMESTAMP)) AS STRING)" +
        s" ELSE CAST(($x) AS STRING) END)" }
    // general cast-to-ipv4 (DialectRewrites routes `expr::ipv4` here):
    // numerics render dotted, strings pass through, 0.0.0.0 is the null
    q = expandCalls(q, "__ipv4_cast") { case Seq(x) =>
      s"(CASE WHEN typeof($x) IN ('tinyint', 'smallint', 'int', 'bigint')" +
        s" THEN nullif(ipv4_long_to_str(CAST($x AS BIGINT) & 4294967295), '0.0.0.0')" +
        s" ELSE nullif(CAST(($x) AS STRING), '0.0.0.0') END)" }
    q = expandCalls(q, "ipv4_contains") { case Seq(cidr, ip) =>
      s"((ipv4_str_to_long($ip) & __netmask_num($cidr)) = " +
        s"(ipv4_str_to_long(split_part($cidr, '/', 1)) & __netmask_num($cidr)))" }
    // user-facing netmask() returns an IPv4 value (dotted; 0 = null) —
    // containment internals use the numeric __netmask_num form
    q = expandCalls(q, "netmask") { case Seq(s) =>
      s"ipv4_long_to_str(__netmask_num($s))" }
    q = expandCalls(q, "__netmask_num") { case Seq(s) =>
      s"(shiftleft(4294967295, 32 - CAST(split_part($s, '/', 2) AS INT)) & 4294967295)" }
    q = expandCalls(q, "ipv4_str_to_long") { case Seq(s) =>
      s"(CAST(split_part($s, '.', 1) AS BIGINT) * 16777216 + " +
        s"CAST(split_part($s, '.', 2) AS BIGINT) * 65536 + " +
        s"CAST(split_part($s, '.', 3) AS BIGINT) * 256 + " +
        s"CAST(split_part($s, '.', 4) AS BIGINT))" }
    q = expandCalls(q, "ipv4_long_to_str") { case Seq(ip) =>
      // 0 is the reference's IPv4 null (prints empty) — render as NULL
      s"(CASE WHEN ($ip) IS NULL OR ($ip) = 0 THEN NULL ELSE " +
        s"concat_ws('.', CAST(pmod(shiftright($ip, 24), 256) AS STRING), " +
        s"CAST(pmod(shiftright($ip, 16), 256) AS STRING), " +
        s"CAST(pmod(shiftright($ip, 8), 256) AS STRING), " +
        s"CAST(pmod($ip, 256) AS STRING)) END)" }
    // alias-naming sentinel: __graft_col(e) = e, but AutoAlias names the
    // wrapped operator expression 'column' (reference SqlUtil naming for
    // rewritten ipv4 arithmetic)
    q = expandCalls(q, "__graft_col") { case Seq(e) => s"($e)" }
    q = expandCalls(q, "__graft_arr") { case Seq(e) => s"($e)" }
    q = expandCalls(q, "__graft_slice") { case Seq(e) => s"($e)" }
    // nanosecond timestamp surface (reference TIMESTAMP_NS —
    // cairo/ColumnType.java:145-146, TimestampDriver ns variant). Spark's
    // TimestampType is micros, so nanos ride as BIGINT-since-epoch; all
    // five expand to codegen'd builtins (session tz is UTC, matching the
    // naive-timestamp oracle).
    // a null INTERVAL is a typed null struct (UnionAllCastTest union of
    // interval() rows with null::interval)
    q = q.replaceAll("(?i)\\bnull\\s*::\\s*interval\\b",
      "CAST(NULL AS STRUCT<lo: TIMESTAMP, hi: TIMESTAMP>)")
    q = expandCalls(q, "interval_start") { case Seq(iv) => s"($iv).lo" }
    q = expandCalls(q, "interval_end") { case Seq(iv) => s"($iv).hi" }
    q = expandCalls(q, "interval") { case Seq(lo, hi) =>
      // integral endpoints are micros-since-epoch (reference
      // IntervalFunctionFactory) — except a declared TIMESTAMP_NS
      // column, whose BIGINT carrier is NANOS; a null endpoint nulls
      // the interval
      def ep(a: String) =
        if (declaredNsCol(cat, q.toLowerCase, a.trim) ||
            """(?i)__ns_cast\s*\(|__ns_at_tz\s*\(|::\s*timestamp_ns\b|to_timestamp_ns\s*\("""
              .r.findFirstIn(a).isDefined)
          s"timestamp_micros(CAST(($a) DIV 1000 AS BIGINT))"
        else s"(CASE WHEN typeof($a) IN ('tinyint', 'smallint', 'int', 'bigint')" +
          s" THEN timestamp_micros(CAST(CAST($a AS STRING) AS BIGINT)) ELSE CAST($a AS TIMESTAMP) END)"
      s"(CASE WHEN CAST($lo AS STRING) IS NULL OR CAST($hi AS STRING) IS NULL" +
        s" THEN CAST(NULL AS STRUCT<lo: TIMESTAMP, hi: TIMESTAMP>)" +
        s" ELSE named_struct('lo', ${ep(lo)}, 'hi', ${ep(hi)}) END)" }
    q = expandCalls(q, "to_timestamp_ns") { case args @ (_ +: _) if args.size <= 2 =>
      if (args.size == 2 && args(1).trim.startsWith("'")) {
        // explicit reference pattern: translate tokens (bare T/Z
        // literals, SSSUUUNNN fraction runs) and parse at ns precision
        nsParseFmtExpr(args.head, stripQuotes(args(1)))
      } else nsParseExpr(args.head) }
    q = expandCalls(q, "__ns_cast") { case Seq(x) => nsCast(x) }
    q = expandCalls(q, "timestamp_to_ns") { case Seq(ts) => s"(unix_micros($ts) * 1000)" }
    q = expandCalls(q, "ns_to_timestamp") { case Seq(ns) =>
      s"timestamp_micros(CAST(($ns) div 1000 AS BIGINT))" }
    q = expandCalls(q, "now_ns") { _ => "(unix_micros(now()) * 1000)" }
    // reference test scaffolding: test_match() is an always-true
    // predicate; alloc/alloc_tracked return the constant 42L
    // (TestAllocatingFunctionFactory:88 — the allocation itself is the
    // reference's native-memory test fixture, meaningless here)
    q = expandCalls(q, "test_match") { _ => "TRUE" }
    // reference test-scaffold aggregates: sum_t/sumx are plain double
    // sums (TestSumTDoubleGroupByFunctionFactory)
    q = expandCalls(q, "sum_t") { case Seq(x) => s"sum(CAST($x AS DOUBLE))" }
    q = expandCalls(q, "sumx") { case Seq(x, _) => s"sum(CAST($x AS DOUBLE))" }
    q = expandCalls(q, "alloc_tracked") { _ => "CAST(42 AS BIGINT)" }
    q = expandCalls(q, "alloc") { _ => "CAST(42 AS BIGINT)" }
    q = expandCalls(q, "systimestamp_ns") { _ => "(unix_micros(now()) * 1000)" }
    q = expandCalls(q, "nanos") { case Seq(ns) => s"CAST(pmod($ns, 1000) AS INT)" }
    q = expandCalls(q, "timestamp_ns_floor") { case Seq(stride, ns) =>
      val nsStride = strideToMicros(stripQuotes(stride)) * 1000L
      s"(($ns) - ((($ns) % $nsStride + $nsStride) % $nsStride))" }
    // interval construction + bound extraction (reference functions/date
    // IntervalFunctionFactory / IntervalStart|EndFunctionFactory — the
    // interval value rides as a (lo, hi) struct)
    // LONG256 construction (reference long256/LongsToLong256FunctionFactory
    // — limbs least-significant first) → canonical 0x + 64-hex-digit form;
    // long256_add / long256_str are registered native functions
    q = expandCalls(q, "to_long256") {
      case Seq(l0, l1, l2, l3) =>
        def limb(x: String) = s"lower(lpad(hex(CAST(($x) AS BIGINT)), 16, '0'))"
        s"concat('0x', ${limb(l3)}, ${limb(l2)}, ${limb(l1)}, ${limb(l0)})"
      case Seq(l0) =>
        s"concat('0x', repeat('0', 48), lower(lpad(hex(CAST(($l0) AS BIGINT)), 16, '0')))"
    }
    // group-by arg aliases + moment-estimator variants (reference
    // groupby/ArgMax*/ArgMin*, Kurtosis{Pop,Samp}, Skewness{Pop,Samp}
    // GroupByFunctionFactory). Spark's skewness/kurtosis are the
    // population estimators (g1, excess g2); the _samp forms apply the
    // standard bias corrections textually so everything stays inside
    // the native hash aggregate.
    q = expandCalls(q, "arg_max") { case Seq(a, b) => s"max_by($a, $b)" }
    q = expandCalls(q, "arg_min") { case Seq(a, b) => s"min_by($a, $b)" }
    q = expandCalls(q, "approx_median") {
      case Seq(x) => s"approx_percentile($x, 0.5)"
      // 2-arg form carries the HDR significant-digit precision
      case Seq(x, prec) => s"approx_percentile($x, 0.5, $prec)"
    }
    // reference HdrHistogram semantics (precision default 1); typeof()
    // constant-folds per column so the udaf picks the long vs double
    // histogram exactly like the reference factories
    q = expandCalls(q, "approx_percentile") {
      case Seq(x, p) => s"hdr_approx_percentile(CAST($x AS DOUBLE), CAST($p AS DOUBLE), 1, typeof($x))"
      case Seq(x, p, prec) => s"hdr_approx_percentile(CAST($x AS DOUBLE), CAST($p AS DOUBLE), CAST($prec AS INT), typeof($x))"
    }
    q = expandCalls(q, "skewness_pop") { case Seq(x) => s"skewness($x)" }
    q = expandCalls(q, "kurtosis_pop") { case Seq(x) => s"kurtosis($x)" }
    q = expandCalls(q, "skewness_samp") { case Seq(x) =>
      s"(skewness($x) * sqrt(count($x) * (count($x) - 1.0)) / (count($x) - 2.0))" }
    q = expandCalls(q, "kurtosis_samp") { case Seq(x) =>
      s"(((count($x) - 1.0) / ((count($x) - 2.0) * (count($x) - 3.0)))" +
        s" * ((count($x) + 1.0) * kurtosis($x) + 6.0))" }
    // weighted stddev family (reference groupby/
    // AbstractWeightedStdDevGroupByFunction:40-86 — reliability weights
    // are the default; frequency weights divide by sum(w)-1). Non-finite
    // samples/weights and zero weights are skipped, matching computeFirst.
    def wTerm(x: String, w: String, term: String): String =
      s"sum(CASE WHEN NOT isnan(CAST(($x) AS DOUBLE)) AND NOT isnan(CAST(($w) AS DOUBLE))" +
        s" AND ($w) <> 0 THEN $term END)"
    def weightedStd(x: String, w: String, denom: String): String =
      // the West-style UDAF reproduces the reference's accumulation
      // (stable at 1e13 magnitudes where the sum-of-squares form
      // cancels) and its non-positive-divisor → null edge
      s"weighted_stddev_${denom}_ref(CAST(($x) AS DOUBLE), CAST(($w) AS DOUBLE))"
    q = expandCalls(q, "weighted_stddev_rel") { case Seq(x, w) => weightedStd(x, w, "rel") }
    q = expandCalls(q, "weighted_stddev_freq") { case Seq(x, w) => weightedStd(x, w, "freq") }
    q = expandCalls(q, "weighted_stddev") { case Seq(x, w) => weightedStd(x, w, "rel") }
    // 1-D double-array function family (reference functions/array/
    // DoubleArray{Sum,Avg,Count,CumSum,Position,Reverse,StddevPop,
    // StddevSamp}FunctionFactory, InsertionPoint*, Shift, DimLength,
    // DotProduct). NaN elements are skipped by sum/avg/count/stddev,
    // matching the reference's Numbers.isFinite guards. All expansions
    // are builtin higher-order functions — no UDFs.
    def finite(a0: String): String = {
      val a = s"__graft_flat($a0)" // N-dim args iterate every dim, as in
                                   // the reference's calculateRecursive
      s"filter($a, x -> x IS NOT NULL AND NOT isnan(CAST(x AS DOUBLE)))"
    }
    // empty or all-null/NaN input sums to NULL, not 0 (reference
    // DoubleArraySumFunctionFactory returns NaN when no finite element
    // was seen; NaN prints as null)
    q = expandCalls(q, "array_sum") { case Seq(a) =>
      s"(CASE WHEN ($a) IS NULL OR size(${finite(a)}) = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
        s"aggregate(${finite(a)}, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE)) END)" }
    q = expandCalls(q, "array_avg") { case Seq(a) =>
      s"(aggregate(${finite(a)}, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))" +
        s" / NULLIF(size(${finite(a)}), 0))" }
    // null array counts 0 (reference calculateCount over null cursor);
    // Spark's size(null) is -1
    q = expandCalls(q, "array_count") { case Seq(a) =>
      s"coalesce(IF(($a) IS NULL, 0, size(${finite(a)})), 0)" }
    // running sum over every element in flattening order; null/NaN
    // slots emit the running sum unchanged (null before the first
    // finite value); all-null or empty input → null
    q = expandCalls(q, "array_cum_sum") { case Seq(a) =>
      val f = s"__graft_flat($a)"
      s"CASE WHEN size(${finite(a)}) = 0 THEN NULL ELSE " +
        s"aggregate($f, named_struct('s', CAST(NULL AS DOUBLE), 'o', CAST(array() AS ARRAY<DOUBLE>)), " +
        s"(acc, x) -> named_struct('s', " +
        s"IF(x IS NULL OR isnan(CAST(x AS DOUBLE)), acc.s, coalesce(acc.s, 0D) + CAST(x AS DOUBLE)), " +
        s"'o', concat(acc.o, array(" +
        s"IF(x IS NULL OR isnan(CAST(x AS DOUBLE)), acc.s, coalesce(acc.s, 0D) + CAST(x AS DOUBLE))))), " +
        s"acc -> acc.o) END" }
    q = expandCalls(q, "array_reverse") { case Seq(a) => s"reverse($a)" }
    q = expandCalls(q, "array_position") { case Seq(a, v) =>
      s"get(filter(transform($a, (x, i) -> IF(x = ($v), i + 1, CAST(NULL AS INT))), " +
        s"p -> p IS NOT NULL), 0)" }
    def arrayStd(a: String, samp: Boolean): String = {
      val f = finite(a)
      val n = s"CAST(size($f) AS DOUBLE)"
      val s1 = s"aggregate($f, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
      val s2 = s"aggregate($f, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
      val denom = if (samp) s"($n - 1.0)" else n
      s"sqrt(($s2 - $s1 * $s1 / $n) / $denom)"
    }
    q = expandCalls(q, "array_stddev_pop") { case Seq(a) => arrayStd(a, samp = false) }
    q = expandCalls(q, "array_stddev_samp") { case Seq(a) => arrayStd(a, samp = true) }
    q = expandCalls(q, "array_stddev") { case Seq(a) => arrayStd(a, samp = true) }
    // insertion_point: 1-based binary-search slot in a sorted array
    // (reference binarySearchDoubleValue1DArray): default = after the
    // last equal element; 3-arg ahead=true = before the first equal
    // insertion_point respects the array's own sort direction (reference
    // binary search over asc OR desc vectors)
    q = expandCalls(q, "insertion_point") { case args if args.size == 2 || args.size == 3 =>
      val (a, v) = (args(0), args(1))
      val ahead = args.lift(2).map(_.trim.toLowerCase)
      val desc = s"(size($a) > 1 AND element_at($a, 1) > element_at($a, -1))"
      def cnt(op: String) = s"size(filter($a, x -> x $op ($v)))"
      val (ascCnt, descCnt) = ahead match {
        case Some("true") => (cnt("<"), cnt(">"))
        case _ => (cnt("<="), cnt(">="))
      }
      s"(CASE WHEN $desc THEN $descCnt ELSE $ascCnt END + 1)"
    }
    q = expandCalls(q, "shift") {
      case args if args.size >= 2 =>
        // rank dispatch (1-D vs per-row 2-D) happens in the plan-level
        // __graft_shift, which sees resolved types through
        // transpose()/slice() compositions
        val f = if (args.size > 2) args(2) else "CAST('NaN' AS DOUBLE)"
        s"__graft_shift((${args(0)}), (${args(1)}), ($f))"
    }
    q = expandCalls(q, "dim_length") { case Seq(a, d) =>
      def at(k: Int) = k match {
        case 1 => s"size($a)"
        case 2 => s"size(get($a, 0))"
        case _ => s"size(get(get($a, 0), 0))"
      }
      d.trim match {
        case "1" | "2" | "3" => at(d.trim.toInt)
        case other =>
          // non-constant dim (column, NULL::int, expression): the
          // plan-level __dim_length sees the child's STATIC rank and
          // CASEs over the runtime dim — null/out-of-range dims → null
          s"__dim_length($a, $other)"
      } }
    q = expandCalls(q, "dot_product") { case Seq(a0, b0) =>
      // N-dim args dot over the flattened views (reference iterates all
      // dims); __graft_flat is identity on 1-D. A numeric-literal side
      // broadcasts (reference scalar overloads: sum(arr[i] * k))
      def isNum(x: String) = x.trim.matches("-?\\d+(\\.\\d+)?([eE]-?\\d+)?[DdFf]?") ||
        x.trim.matches("(?is)CAST\\s*\\(\\s*-?[\\d.]+\\s+AS\\s+\\w+\\s*\\)")
      def isNullLit(x0: String): Boolean = {
        var x = x0.trim
        while (x.startsWith("(") && x.endsWith(")")) x = x.substring(1, x.length - 1).trim
        x.equalsIgnoreCase("null") ||
          x.matches("(?is)null\\s*(::\\s*\\w+)*") ||
          x.matches("(?is)(CAST|__QCAST__)\\s*\\(\\s*\\(?\\s*NULL\\s*\\)?\\s+AS\\s+\\w+\\s*\\)")
      }
      val (a, b) = (a0.trim, b0.trim)
      def flat(x: String) = s"CAST(__graft_flat($x) AS ARRAY<DOUBLE>)"
      if (isNullLit(a) || isNullLit(b)) "CAST(NULL AS DOUBLE)" // null side nulls the dot
      else if (isNum(b)) s"vec_dot(${flat(a)}, transform(${flat(a)}, __s -> CAST($b AS DOUBLE)))"
      else if (isNum(a)) s"vec_dot(${flat(b)}, transform(${flat(b)}, __s -> CAST($a AS DOUBLE)))"
      else s"vec_dot(${flat(a)}, ${flat(b)})" }
    // uuid / long128 construction from long halves (reference
    // uuid/LongsToUuidFunctionFactory — new UUID(hi, lo) string form)
    def hex16(x: String): String = s"lower(lpad(hex(CAST(($x) AS BIGINT)), 16, '0'))"
    q = expandCalls(q, "to_uuid") { case Seq(lo, hi) =>
      val h = hex16(hi); val l = hex16(lo)
      s"concat(substr($h, 1, 8), '-', substr($h, 9, 4), '-', substr($h, 13, 4), '-', " +
        s"substr($l, 1, 4), '-', substr($l, 5, 12))" }
    q = expandCalls(q, "to_long128") { case Seq(lo, hi) =>
      // reference Long128 text form is the dashed 8-4-4-4-12 hex
      // grouping (Long128Tests expected output), hi limb first
      val h = hex16(hi); val l = hex16(lo)
      s"concat(substr($h, 1, 8), '-', substr($h, 9, 4), '-', substr($h, 13, 4), '-', " +
        s"substr($l, 1, 4), '-', substr($l, 5, 12))" }
    q = expandCalls(q, "from_base64") { case Seq(s) => s"unbase64($s)" }
    // PG-compat identity functions (reference functions/catalogue/
    // CurrentUser/CurrentDatabase/CurrentSchema*FunctionFactory — fixed
    // values matching the PGWire server's advertised identity)
    q = expandCalls(q, "current_user") { _ => "'admin'" }
    q = expandCalls(q, "session_user") { _ => "'admin'" }
    q = expandCalls(q, "current_database") { _ => "'qdb'" }
    q = expandCalls(q, "current_catalog") { _ => "'qdb'" }
    q = expandCalls(q, "current_schema") { _ => "'public'" }
    q = expandCalls(q, "current_schemas") { _ => "array('public')" }
    // ---- PG-compat catalogue stubs (reference functions/catalogue/
    // CurrentSettingFunctionFactory — server_version_num else '' (a
    // grafana meta-query stub there too); FormatTypeFunctionFactory,
    // PgGetExprFunctionFactory, date/ToPgDateFunctionFactory) ---------------
    q = expandCalls(q, "current_setting") { case Seq(s) =>
      s"(CASE WHEN ($s) = 'server_version_num' THEN '120300' ELSE '' END)" }
    q = expandCalls(q, "format_type") { case args if args.nonEmpty =>
      s"(CASE CAST(${args.head} AS INT) WHEN 16 THEN 'boolean' WHEN 17 THEN 'bytea' " +
        "WHEN 20 THEN 'bigint' WHEN 21 THEN 'smallint' WHEN 23 THEN 'integer' " +
        "WHEN 25 THEN 'text' WHEN 700 THEN 'real' WHEN 701 THEN 'double precision' " +
        "WHEN 1043 THEN 'character varying' WHEN 1082 THEN 'date' " +
        "WHEN 1114 THEN 'timestamp without time zone' " +
        "WHEN 1184 THEN 'timestamp with time zone' " +
        "WHEN 1700 THEN 'numeric' WHEN 2950 THEN 'uuid' ELSE '???' END)" }
    // scalar pg_catalog helpers may arrive schema-qualified (the JDBC
    // driver spells pg_catalog.pg_get_expr) — drop the qualifier so the
    // expansions below see the bare call
    // NOTE: `age` must NOT be in this strip list — it exists only under
    // the pg_catalog prefix (reference PrefixedAgeFunctionFactory) and is
    // rewritten through the __pg_age sentinel below, which needs the
    // qualifier intact to match.
    q = q.replaceAll("(?i)\\bpg_catalog\\.(?=(?:pg_get_expr|pg_get_keywords|" +
      "pg_total_relation_size|pg_table_is_visible|format_type|obj_description|" +
      "col_description|version|current_schemas)\\s*\\()", "")
    q = expandCalls(q, "pg_get_expr") { _ => "''" }
    q = expandCalls(q, "pg_is_in_recovery") { _ => "false" }
    // remaining PG-compat scalar stubs, reference values (catalogue/
    // PrefixedAgeFunctionFactory → 0, UserByIdCatalogueFunctionFactory →
    // 'public', IsTableVisibleCatalogueFunctionFactory → true,
    // CurrentDataIdFunctionFactory → unset data id = SQL NULL,
    // Simulate{Warnings,Crash}FunctionFactory → false outside dev mode).
    // Strip the pg_catalog. prefix first so the call-site rewrite below
    // leaves no dangling qualifier.
    q = q.replaceAll(
      "(?i)\\bpg_catalog\\s*\\.\\s*(pg_get_userbyid|pg_table_is_visible)\\s*\\(", "$1(")
    // age() exists only under the pg_catalog prefix (reference
    // PrefixedAgeFunctionFactory) — rewrite through a sentinel name so
    // expandCalls' literal pre-scan sees it (a regex name never matches)
    q = q.replaceAll("(?i)\\bpg_catalog\\s*\\.\\s*age\\s*\\(", "__pg_age(")
    q = expandCalls(q, "__pg_age") { _ => "CAST(0 AS BIGINT)" }
    q = expandCalls(q, "pg_get_userbyid") { _ => "'public'" }
    q = expandCalls(q, "pg_table_is_visible") { _ => "true" }
    q = expandCalls(q, "current_data_id") { _ => "CAST(NULL AS STRING)" }
    q = expandCalls(q, "simulate_warnings") { _ => "false" }
    q = expandCalls(q, "simulate_crash") { _ => "false" }
    q = expandCalls(q, "pg_advisory_unlock_all") { _ => "CAST(NULL AS STRING)" }
    q = expandCalls(q, "pg_get_partkeydef") { _ => "CAST(NULL AS STRING)" }
    // build() — engine/build identity string (reference metadata/
    // BuildFunctionFactory); wait_wal_table blocks until WAL is applied
    // in the reference — ingest here is synchronous, so it is already
    // true by the time the query runs (table/WaitWalTableFunctionFactory)
    q = expandCalls(q, "build") { _ =>
      s"'graft (Spark ${org.apache.spark.SPARK_VERSION}, " +
        s"Scala ${scala.util.Properties.versionNumberString}, " +
        s"JDK ${System.getProperty("java.version")})'" }
    q = expandCalls(q, "wait_wal_table") { _ => "true" }
    q = expandCalls(q, "to_pg_date") { case Seq(s) => s"CAST($s AS DATE)" }
    // typeOf → reference type names (catalogue/TypeOfFunctionFactory).
    // Case-SENSITIVE match: the lowering emits Spark's own `typeof`,
    // which an insensitive pass would re-match forever.
    q = expandCalls(q, "typeOf", insensitive = false) { case Seq(x) =>
      // an explicit varchar cast was marked before its target was
      // erased to STRING (DialectRewrites.sizelessTypes) — the answer
      // is static (SqlCompilerImplTest:376)
      if (x.trim.startsWith("__vc_marker")) "'VARCHAR'"
      else if (x.trim.startsWith("__uuid_marker")) "'UUID'"
      else {
      val t = s"typeof($x)"
      s"(CASE WHEN $t = 'int' THEN 'INT' WHEN $t = 'bigint' THEN 'LONG' " +
        s"WHEN $t = 'smallint' THEN 'SHORT' WHEN $t = 'tinyint' THEN 'BYTE' " +
        s"WHEN $t = 'double' THEN 'DOUBLE' WHEN $t = 'float' THEN 'FLOAT' " +
        s"WHEN $t = 'string' THEN 'STRING' WHEN $t = 'boolean' THEN 'BOOLEAN' " +
        s"WHEN $t = 'timestamp' THEN 'TIMESTAMP' WHEN $t = 'date' THEN 'DATE' " +
        // DATE rides the TIMESTAMP_NTZ carrier here (dateMsCast)
        s"WHEN $t = 'timestamp_ntz' THEN 'DATE' " +
        s"WHEN $t = 'binary' THEN 'BINARY' WHEN $t LIKE 'decimal%' THEN 'DECIMAL' " +
        s"WHEN $t LIKE 'array%' THEN 'ARRAY' " +
        // the (lo, hi) struct is the INTERVAL carrier
        s"WHEN $t LIKE 'struct<lo:timestamp%' THEN 'INTERVAL' ELSE upper($t) END)" } }
    // uuid typed-literal marker (after typeOf consumed its static
    // answer): the runtime value is the lowercase string form
    q = expandCalls(q, "__uuid_marker") { case Seq(s) => s"lower($s)" }
    // switch(value, case1, result1, ..., [default]) — reference
    // conditional/SwitchFunctionFactory → plain CASE lowering
    // nullif(null, x) is a TYPED null in the reference — it takes x's
    // type, so an INT operand renders the literal `null`, not the empty
    // string of an untyped/string null (NullIfFunctionFactoryTest:126)
    q = expandCalls(q, "nullif") {
      case Seq(a, b) if a.trim.equalsIgnoreCase("null") =>
        s"(CASE WHEN false THEN ($b) END)"
      case args => s"__NULLIF__(${args.mkString(", ")})"
    }
    q = q.replace("__NULLIF__(", "nullif(")
    q = expandCalls(q, "switch") { case args if args.size >= 3 =>
      val v = args.head
      val rest = args.tail
      val (body, default) =
        if (rest.size % 2 == 1) (rest.init, Some(rest.last)) else (rest, None)
      val whens = body.grouped(2).map { case Seq(c, r) => s"WHEN ($c) THEN ($r)" }.mkString(" ")
      s"(CASE ($v) $whens${default.map(d => s" ELSE ($d)").getOrElse("")} END)" }
    // touch(select …) — reference table/TouchTableFunctionFactory warms
    // the pages a query would read; here the scalar subquery forces the
    // same scan. Args are re-joined: the inner SELECT owns its commas.
    q = expandCalls(q, "touch") { args =>
      val inner = args.mkString(",")
      s"named_struct('data_pages', CAST((SELECT count(*) FROM ($inner)) AS BIGINT), " +
        "'index_key_pages', CAST(0 AS BIGINT), 'index_values_pages', CAST(0 AS BIGINT))" }
    // rnd_log is a dev-mode-only log spammer in the reference
    // (rnd/RndLogFunctionFactory) — production path returns false
    q = expandCalls(q, "rnd_log") { _ => "false" }
    // array_build + element-wise array_elem_* (reference functions/array/
    // ArrayBuildFunctionFactory `array_build(lV)`,
    // AbstractDoubleArrayElemFunction — variadic element-wise across
    // arrays; the single-array spelling is the GROUP BY aggregate form,
    // reference groupby/DoubleArrayElemAvgGroupByFunctionFactory).
    // array_build is a NATIVE expression (graft.functions.ArrayBuild —
    // the reference fill-shape constructor needs resolved types for its
    // scalar-vs-array size dispatch); no text macro here
    // Reference semantics (AbstractDoubleArrayElemFunction, groupby/
    // DoubleArrayElem*GroupByFunction): RAGGED inputs extend to the MAX
    // shape, per-position combination skips absent and NULL entries
    // ([1,2] with [3,4,5] has 3 positions, the third from one
    // contributor; avg divides by the per-position PRESENT count). 2-D
    // inputs combine element-wise over the max outer-by-inner rectangle.
    def seqTo(n: String): String =
      s"slice(sequence(1, greatest($n, 1)), 1, greatest($n, 0))"
    def opBody(op: String, vals: String): String = op match {
      case "sum" => s"CASE WHEN size($vals) = 0 THEN CAST(NULL AS DOUBLE) " +
        s"ELSE aggregate($vals, 0D, (__p, __q) -> __p + __q) END"
      case "avg" => s"CASE WHEN size($vals) = 0 THEN CAST(NULL AS DOUBLE) " +
        s"ELSE aggregate($vals, 0D, (__p, __q) -> __p + __q) / size($vals) END"
      case "max" => s"array_max($vals)"
      case "min" => s"array_min($vals)"
    }
    def keepPresent(terms: Seq[String]): String =
      s"filter(array(${terms.mkString(", ")}), __e -> __e IS NOT NULL)"
    // textual rank of an argument: declared column dims (minus already-
    // lowered subscripts) or literal array( nesting; default 1-D
    def argDims(a: String): Int = {
      val subs = "try_element_at\\s*\\(".r.findAllIn(a).size
      val colDims = "[A-Za-z_][\\w.]*".r.findAllIn(a)
        .flatMap(t => declaredArrayDims(cat, q, t)).maxOption.getOrElse(0)
      val litDims =
        if ("""(?i)array\s*\(\s*array\s*\(""".r.findFirstIn(a).isDefined) 2
        else if ("""(?i)\barray\s*\(""".r.findFirstIn(a).isDefined) 1 else 0
      math.max(math.max(colDims - subs, litDims), 1)
    }
    def elemWise(args: Seq[String], op: String): String =
      if (args.map(argDims).max <= 1) {
        // coalesce: size(NULL array) may be NULL, and a NULL outer bound
        // must take the null-result branch, not slip past the CASE (3VL)
        val outer = s"coalesce(greatest(${args.map(a => s"coalesce(size($a), -1)").mkString(", ")}), 0)"
        // every input null/empty -> NULL result, not [] (reference
        // returns the null array)
        s"CASE WHEN ($outer) < 1 THEN CAST(NULL AS ARRAY<DOUBLE>) ELSE " +
          s"transform(${seqTo(outer)}, __i -> ${opBody(op, keepPresent(
            args.map(a => s"CAST(try_element_at($a, CAST(__i AS INT)) AS DOUBLE)")))}) END"
      } else {
        val outer = s"coalesce(greatest(${args.map(a => s"coalesce(size($a), -1)").mkString(", ")}), 0)"
        // inner extent = max over ALL outer rows (ragged 2-D inputs whose
        // later rows are longer than row 1 extend the rectangle, not
        // truncate to row 1's length — max outer-by-inner semantics)
        val inner = s"coalesce(greatest(${args.map(a =>
          s"coalesce(aggregate($a, -1, (__m2, __v2) -> greatest(__m2, coalesce(size(__v2), -1))), -1)").mkString(", ")}), 0)"
        s"CASE WHEN ($outer) < 1 THEN CAST(NULL AS ARRAY<ARRAY<DOUBLE>>) ELSE " +
          s"transform(${seqTo(outer)}, __i -> transform(${seqTo(inner)}, __j -> " +
          opBody(op, keepPresent(args.map(a =>
            s"CAST(try_element_at(try_element_at($a, CAST(__i AS INT)), CAST(__j AS INT)) AS DOUBLE)"))) +
          ")) END"
      }
    // aggregate form: the group rows bind as __L through a one-element
    // aggregate() (an aggregate FUNCTION may not appear inside a lambda
    // body, a lambda VARIABLE may). collect_list bounds memory by group
    // size — the posexplode path (q_embed_centroids) is the 100 TB shape.
    def elemAgg(a: String, op: String): String =
      if (argDims(a) <= 1) {
        val m0 = "aggregate(__L, 0, (__m, __v) -> greatest(__m, size(__v)))"
        s"aggregate(array(collect_list($a)), CAST(NULL AS ARRAY<DOUBLE>), (__acc, __L) -> " +
          s"CASE WHEN ($m0) < 1 THEN CAST(NULL AS ARRAY<DOUBLE>) ELSE " +
          s"transform(${seqTo(m0)}, __i -> ${opBody(op,
            "filter(transform(__L, __v -> CAST(try_element_at(__v, CAST(__i AS INT)) AS DOUBLE)), __e -> __e IS NOT NULL)")}) END)"
      } else {
        val m0 = "aggregate(__L, 0, (__m, __v) -> greatest(__m, size(__v)))"
        // per-member inner extent is also the max over ALL inner rows
        val m1 = "aggregate(__L, 0, (__m, __v) -> greatest(__m, " +
          "coalesce(aggregate(__v, 0, (__n2, __w2) -> greatest(__n2, coalesce(size(__w2), 0))), 0)))"
        s"aggregate(array(collect_list($a)), CAST(NULL AS ARRAY<ARRAY<DOUBLE>>), (__acc, __L) -> " +
          s"CASE WHEN ($m0) < 1 THEN CAST(NULL AS ARRAY<ARRAY<DOUBLE>>) ELSE " +
          s"transform(${seqTo(m0)}, __i -> transform(${seqTo(m1)}, __j -> ${opBody(op,
            "filter(transform(__L, __v -> CAST(try_element_at(try_element_at(__v, CAST(__i AS INT)), CAST(__j AS INT)) AS DOUBLE)), __e -> __e IS NOT NULL)")})) END)"
      }
    q = expandCalls(q, "array_elem_sum") {
      case Seq(a) => elemAgg(a, "sum")
      case args => elemWise(args, "sum")
    }
    q = expandCalls(q, "array_elem_avg") {
      case Seq(a) => elemAgg(a, "avg")
      case args => elemWise(args, "avg")
    }
    q = expandCalls(q, "array_elem_max") {
      case Seq(a) => elemAgg(a, "max")
      case args => elemWise(args, "max")
    }
    q = expandCalls(q, "array_elem_min") {
      case Seq(a) => elemAgg(a, "min")
      case args => elemWise(args, "min")
    }
    q = rewriteGeneratorFns(q)
    // day-interval functions in predicate position (`ts IN today()` —
    // reference functions/date/{Today,Tomorrow,Yesterday}FunctionFactory)
    q = DayIntervalRe.replaceAllIn(q, m => {
      val c = m.group(1)
      val off = m.group(2).toLowerCase match {
        case "today" => 0; case "tomorrow" => 1; case "yesterday" => -1
      }
      // ns BIGINT carriers compare on their µs timestamp view
      val cc = s"IF(typeof($c) = 'bigint', " +
        s"timestamp_micros(CAST(($c) AS BIGINT) div 1000), CAST($c AS TIMESTAMP))"
      val lo = s"date_add(current_date(), $off)"
      Regex.quoteReplacement(
        s"($cc >= CAST($lo AS TIMESTAMP) AND $cc < CAST(date_add($lo, 1) AS TIMESTAMP))")
    })
    // value-position day intervals (reference Today/Tomorrow/Yesterday
    // return an interval value) — AFTER the predicate rewrite above so
    // `ts IN today()` stays a range scan
    def dayInterval(off: Int): String =
      s"named_struct('lo', CAST(date_add(current_date(), $off) AS TIMESTAMP), " +
        s"'hi', CAST(date_add(current_date(), ${off + 1}) AS TIMESTAMP) - INTERVAL 1 MICROSECOND)"
    q = expandCalls(q, "today") { _ => dayInterval(0) }
    q = expandCalls(q, "yesterday") { _ => dayInterval(-1) }
    q = expandCalls(q, "tomorrow") { _ => dayInterval(1) }
    // any sentinel casts produced by handlers that ran after the cast
    // expansion pass (to_timezone/to_utc/ns casts) restore here
    q = q.replace("__QCAST__(", "CAST(")
    q
  }

  // ---- dialect generator scalars (reference functions/rnd/
  // Rnd{Double,Int,Long,Short,Byte,Boolean,Char,Str,Symbol,Date,
  // Timestamp,Uuid,IPv4,Long256,Bin,GeoHash,Decimal,Interval}FunctionFactory
  // + date/TimestampSequenceFunctionFactory — SURVEY §2.1).
  //
  // Deterministic md5-seeded uniforms over the enclosing
  // `long_sequence` counter column `x` (the reference's generator idiom
  // is `SELECT rnd_* FROM long_sequence(n)`), exactly the scheme of
  // graft.functions.Generators: reproducible across engines,
  // partitionings and retries — what a distributed fixture generator
  // needs. The reference's stateful PRNG cannot be reproduced without
  // fixing a scan order, which no distributed engine should promise.
  // Call-site ordinals salt the seed (`rnd_double#2` = second
  // rnd_double in the statement) so repeated calls draw independent
  // streams. nanRate arguments follow the reference contract loosely:
  // rate > 0 → NULL with probability 1/(rate+1) (the reference emits
  // NaN; the driver compare canonicalizes NaN == NULL).

  /** Exact hex word of md5('seed' ‖ x): digits [lo..hi] as a base-16
    * positional sum — integer-valued double, exact below 2^32.
    */
  private def uWord(seed: String, lo: Int, hi: Int): String = {
    val terms = (lo to hi).map { i =>
      s"(locate(substring(md5(concat('$seed', cast(x as string))), $i, 1), '0123456789abcdef') - 1) * ${math.pow(16.0, hi - i)}"
    }
    s"(${terms.mkString(" + ")})"
  }

  /** Uniform [0,1) — first 8 hex digits of md5('seed' ‖ x) / 2^32. */
  private def uSql(seed: String): String =
    s"(${uWord(seed, 1, 8)} / ${math.pow(16.0, 8)})"

  private[sql] def rewriteGeneratorFns(q0: String): String = {
    var q = q0
    // bare `SELECT rnd_*()` with no FROM: the reference evaluates one
    // row; the md5-deterministic stream here needs the long_sequence x
    // column, so supply a one-row generator
    val hasRnd = """(?i)\brnd_\w+\s*\(""".r.findFirstIn(q).isDefined
    if (q.trim.toUpperCase.startsWith("SELECT") &&
        topLevelIndexOf(q, Seq("from")) < 0 && hasRnd) {
      val cut = topLevelIndexOf(q, Seq("order", "limit"))
      q = if (cut < 0) s"$q FROM long_sequence(1)"
          else s"${q.substring(0, cut)} FROM long_sequence(1) ${q.substring(cut)}"
    }
    // rnd_* over a relation with no `x` column: salt from the session
    // variable instead (constant per query — run-tier semantics)
    val saltFallback = hasRnd && !containsWordIgnoreCase(q, "long_sequence") &&
      !containsWordIgnoreCase(q, "generate_series")
    val ord = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def seedOf(name: String): String = {
      val k = ord(name) + 1; ord(name) = k; s"$name#$k"
    }
    def nullify(rate: String, value: String, tpe: String, seed: String): String =
      s"(CASE WHEN CAST($rate AS INT) > 0 AND ${uSql(seed + "_null")} * (CAST($rate AS INT) + 1.0) < 1.0 " +
        s"THEN CAST(NULL AS $tpe) ELSE ($value) END)"

    // IDENTICAL literal timestamp_sequence calls in separate UNION ALL
    // branches share ONE stateful instance in the reference — the union
    // cursor interleaves invocations row by row, so branch i of k yields
    // start + (k*(x-1) + i)*step (SampleByTest:213, issue-6549 pin:
    // 15-min steps come out 30 min apart per branch)
    if ("""(?i)\bunion\b""".r.findFirstIn(q).isDefined) {
      val callRe = """(?i)\btimestamp_sequence\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*\)""".r
      val calls = callRe.findAllMatchIn(q).toList
      val groups = calls.groupBy(m => (m.group(1), m.group(2))).filter(_._2.size > 1)
      if (groups.nonEmpty) {
        val sb = new StringBuilder; var last = 0
        val seen = scala.collection.mutable.Map[(String, String), Int]()
        for (m <- calls) {
          val key = (m.group(1), m.group(2))
          if (groups.contains(key)) {
            val k = groups(key).size
            val i = seen.getOrElse(key, 0); seen(key) = i + 1
            sb.append(q.substring(last, m.start))
            sb.append(s"timestamp_sequence(${m.group(1).toLong + i * m.group(2).toLong}, " +
              s"${m.group(2).toLong * k})")
            last = m.end
          }
        }
        sb.append(q.substring(last))
        q = sb.toString
      }
    }
    // timestamp_sequence(start, step): start + (x-1)*step micros; start
    // may be a micros literal or any timestamp expression
    q = expandCalls(q, "timestamp_sequence") { case Seq(start, step) =>
      val startMicros =
        if (start.trim.matches("-?\\d+")) start.trim
        else s"unix_micros(CAST($start AS TIMESTAMP))"
      s"timestamp_micros(CAST(($startMicros) + (x - 1) * CAST($step AS BIGINT) AS BIGINT))"
    }
    // ns variant (reference TimestampNanoQueryTest): BIGINT nanos column
    q = expandCalls(q, "timestamp_sequence_ns") { case Seq(start, step) =>
      val startNs =
        if (start.trim.matches("-?\\d+")) start.trim
        // a BIGINT operand is already an ns carrier (to_timestamp_ns &
        // friends); strings/timestamps parse via the micro view
        else s"(CASE WHEN typeof($start) = 'bigint' THEN CAST($start AS BIGINT)" +
          s" ELSE unix_micros(CAST(translate(replace(CAST($start AS STRING), 'Z', ''), 'T', ' ')" +
          s" AS TIMESTAMP)) * 1000 END)"
      s"CAST(($startNs) + (x - 1) * CAST($step AS BIGINT) AS BIGINT)"
    }

    def intIn(s: String, lo: String, hi: String, tpe: String): String =
      s"CAST(floor(${uSql(s)} * (CAST($hi AS BIGINT) - CAST($lo AS BIGINT) + 1.0)) + CAST($lo AS BIGINT) AS $tpe)"

    q = expandCalls(q, "rnd_double") {
      case Seq() => uSql(seedOf("rnd_double"))
      case Seq(rate) =>
        val s = seedOf("rnd_double"); nullify(rate, uSql(s), "DOUBLE", s)
    }
    q = expandCalls(q, "rnd_float") {
      case Seq() => s"CAST(${uSql(seedOf("rnd_float"))} AS FLOAT)"
      case Seq(rate) =>
        val s = seedOf("rnd_float"); nullify(rate, s"CAST(${uSql(s)} AS FLOAT)", "FLOAT", s)
    }
    q = expandCalls(q, "rnd_int") {
      case Seq() =>
        s"CAST(floor(${uSql(seedOf("rnd_int"))} * 4294967296.0) - 2147483648 AS INT)"
      case Seq(lo, hi) => intIn(seedOf("rnd_int"), lo, hi, "INT")
      case Seq(lo, hi, rate) =>
        val s = seedOf("rnd_int"); nullify(rate, intIn(s, lo, hi, "INT"), "INT", s)
    }
    // rnd_long256 before rnd_long is irrelevant (the \b…\( match cannot
    // cross the '256') but kept adjacent for readability
    q = expandCalls(q, "rnd_long256") { _ =>
      val s = seedOf("rnd_long256")
      s"concat('0x', md5(concat('${s}_a', cast(x as string))), md5(concat('${s}_b', cast(x as string))))"
    }
    q = expandCalls(q, "rnd_long") {
      case Seq() =>
        val s = seedOf("rnd_long")
        s"((CAST(${uWord(s, 1, 8)} AS BIGINT) - 2147483648) * 4294967296 + CAST(${uWord(s, 9, 16)} AS BIGINT))"
      case Seq(lo, hi) => intIn(seedOf("rnd_long"), lo, hi, "BIGINT")
      case Seq(lo, hi, rate) =>
        val s = seedOf("rnd_long"); nullify(rate, intIn(s, lo, hi, "BIGINT"), "BIGINT", s)
    }
    q = expandCalls(q, "rnd_short") { _ =>
      s"CAST(floor(${uSql(seedOf("rnd_short"))} * 65536.0) - 32768 AS SMALLINT)" }
    q = expandCalls(q, "rnd_byte") { _ =>
      s"CAST(floor(${uSql(seedOf("rnd_byte"))} * 256.0) - 128 AS TINYINT)" }
    q = expandCalls(q, "rnd_boolean") { _ =>
      s"(${uSql(seedOf("rnd_boolean"))} < 0.5)" }
    q = expandCalls(q, "rnd_char") { _ =>
      s"substring('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(floor(${uSql(seedOf("rnd_char"))} * 26) AS INT) + 1, 1)" }

    // string pools: list form picks from the literals; numeric forms
    // draw length in [lo,hi] (rnd_str) or index a deterministic pool of
    // `count` members (reference 4-arg rnd_str / rnd_symbol)
    def listPick(s: String, args: Seq[String]): String =
      s"element_at(array(${args.mkString(", ")}), CAST(floor(${uSql(s)} * ${args.size}) AS INT) + 1)"
    def strBody(name: String): PartialFunction[Seq[String], String] = {
      case args if args.forall(_.trim.isEmpty) =>
        // no-arg form: random content, length 4..16 (reference
        // RndVarcharFunctionFactory default range; run-tier values)
        val s = seedOf(name)
        s"substring(md5(concat('${s}_s', cast(x as string))), 1, ${intIn(s + "_len", "4", "16", "INT")})"
      case args if args.nonEmpty &&
          args.exists(_.trim.startsWith("'")) &&
          args.forall(a => a.trim.startsWith("'") ||
            a.trim.equalsIgnoreCase("null")) =>
        // the pool may carry NULL members (`rnd_varchar(null, 'a', …)`)
        listPick(seedOf(name), args)
      case Seq(lo, hi) =>
        val s = seedOf(name)
        s"substring(md5(concat('${s}_s', cast(x as string))), 1, ${intIn(s + "_len", lo, hi, "INT")})"
      case Seq(lo, hi, rate) =>
        val s = seedOf(name)
        val v = s"substring(md5(concat('${s}_s', cast(x as string))), 1, ${intIn(s + "_len", lo, hi, "INT")})"
        nullify(rate, v, "STRING", s)
      case Seq(count, lo, hi, rate) =>
        // pool member j (0-based) has md5-derived content and length
        // seeded on j, not on x — the pool is fixed, the pick varies
        val s = seedOf(name)
        val j = s"CAST(floor(${uSql(s)} * CAST($count AS INT)) AS INT)"
        val js = s"cast($j as string)"
        val len = s"CAST(floor((locate(substring(md5(concat('${s}_plen', $js)), 1, 1), '0123456789abcdef') - 1) / 16.0 * (CAST($hi AS INT) - CAST($lo AS INT) + 1.0)) + CAST($lo AS INT) AS INT)"
        val v = s"substring(md5(concat('${s}_pool', $js)), 1, $len)"
        nullify(rate, v, "STRING", s)
    }
    q = expandCalls(q, "rnd_str")(strBody("rnd_str"))
    q = expandCalls(q, "rnd_varchar")(strBody("rnd_varchar"))
    // rnd_symbol_zipf(n, alpha): symbols sym1..symN drawn with
    // P(k) ∝ 1/k^alpha (reference RndSymbolZipfNFunctionFactory) —
    // inverse-CDF over precomputed cumulative weights, md5-deterministic
    q = expandCalls(q, "rnd_symbol_zipf") { args =>
      def numOf(t: String): Double =
        """^\s*(\d+(?:\.\d+)?)""".r.findFirstMatchIn(t.trim)
          .map(_.group(1).toDouble)
          .getOrElse(throw new IllegalArgumentException(s"bad zipf arg '$t'"))
      // two spellings (reference RndSymbolZipfNFunctionFactory):
      // (count, alpha) names sym1..symN; ('a','b',…, alpha) draws from
      // the listed symbols
      val (n, alpha, pick): (Int, Double, String => String) = args match {
        case Seq(nS, aS) if !nS.trim.startsWith("'") =>
          (nS.trim.toDouble.toInt, numOf(aS),
            (i: String) => s"concat('sym', CAST($i AS STRING))")
        case syms :+ aS =>
          (syms.size, numOf(aS),
            (i: String) => s"element_at(array(${syms.mkString(", ")}), $i)")
      }
      require(n > 0, "symbol count must be positive")
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, alpha))
      val total = w.sum
      val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / total)
      val s = seedOf("rnd_symbol_zipf")
      val idx =
        if (n == 1) "1"
        else if (n <= 64) {
          val arr = cum.init.map(c => f"$c%.17g").mkString("array(", ", ", ")")
          s"(size(filter($arr, __zc -> __zc <= ${uSql(s)})) + 1)"
        } else {
          // large symbol sets: a giant inline cum-weight literal melts
          // the regex passes downstream, and Spark bars subqueries
          // inside higher-order functions — draw through the continuous
          // zipf inverse (Pareto quantile k ≈ u^(-1/(α-1)) for α>1,
          // clamped to [1, n]); distribution-faithful, not bit-exact,
          // which the run-tier checks here permit
          val inv = if (alpha > 1.0) 1.0 / (alpha - 1.0) else 1.0
          s"least(greatest(CAST(floor(pow(1.0 - ${uSql(s)}, ${-inv})) AS INT), 1), $n)"
        }
      pick(idx)
    }
    q = expandCalls(q, "rnd_symbol")(strBody("rnd_symbol"))

    q = expandCalls(q, "rnd_date") {
      case Seq() =>
        s"date_add(DATE'2024-01-01', CAST(floor(${uSql(seedOf("rnd_date"))} * 365) AS INT))"
      case Seq(lo, hi, rate) =>
        val s = seedOf("rnd_date")
        val v = s"date_add(CAST($lo AS DATE), CAST(floor(${uSql(s)} * (datediff(CAST($hi AS DATE), CAST($lo AS DATE)) + 1.0)) AS INT))"
        nullify(rate, v, "DATE", s)
    }
    q = expandCalls(q, "rnd_timestamp") {
      case Seq(lo, hi, rate) =>
        val s = seedOf("rnd_timestamp")
        val loUs = s"unix_micros(CAST($lo AS TIMESTAMP))"
        val v = s"timestamp_micros(CAST(floor(${uSql(s)} * (unix_micros(CAST($hi AS TIMESTAMP)) - $loUs)) + $loUs AS BIGINT))"
        nullify(rate, v, "TIMESTAMP", s)
    }
    q = expandCalls(q, "rnd_timestamp_ns") {
      case Seq(lo, hi, rate) =>
        val s = seedOf("rnd_timestamp_ns")
        val loNs = s"(unix_micros(CAST($lo AS TIMESTAMP)) * 1000)"
        val hiNs = s"(unix_micros(CAST($hi AS TIMESTAMP)) * 1000)"
        val v = s"CAST(floor(${uSql(s)} * ($hiNs - $loNs)) + $loNs AS BIGINT)"
        nullify(rate, v, "BIGINT", s)
    }
    q = expandCalls(q, "rnd_uuid4") { _ =>
      val h = s"md5(concat('${seedOf("rnd_uuid4")}', cast(x as string)))"
      s"concat(substring($h, 1, 8), '-', substring($h, 9, 4), '-4', substring($h, 14, 3), " +
        s"'-8', substring($h, 18, 3), '-', substring($h, 21, 12))"
    }
    // the reference accepts the generator as a bare word (rnd_ipv4 col1)
    // — guards exclude the seed literals its own expansion emits
    // ('rnd_ipv4#1') and call forms
    q = q.replaceAll("(?i)(?<!')\\brnd_ipv4\\b(?!\\s*[(#])", "rnd_ipv4()")
    q = expandCalls(q, "rnd_ipv4") { _ =>
      val ip = s"CAST(floor(${uSql(seedOf("rnd_ipv4"))} * 4294967296.0) AS BIGINT)"
      s"concat(CAST(pmod(shiftright($ip, 24), 256) AS STRING), '.', " +
        s"CAST(pmod(shiftright($ip, 16), 256) AS STRING), '.', " +
        s"CAST(pmod(shiftright($ip, 8), 256) AS STRING), '.', " +
        s"CAST(pmod($ip, 256) AS STRING))"
    }
    q = expandCalls(q, "rnd_bin") { args =>
      val s = seedOf("rnd_bin")
      val (lo, hi) = args match {
        case Seq(l, h, _*) => (l, h)
        case _ => ("10", "20")
      }
      s"unhex(substring(concat(md5(concat('${s}_p', cast(x as string))), " +
        s"md5(concat('${s}_q', cast(x as string)))), 1, ${intIn(s + "_n", lo, hi, "INT")} * 2))"
    }
    // rnd_geohash(bits): chars = bits/5 over the geohash base-32
    // alphabet; the reference displays sub-5-bit remainders in binary —
    // here bits is required to be a constant multiple-of-5 surface
    q = expandCalls(q, "rnd_geohash") { case Seq(bits) =>
      val b = bits.trim.toInt
      require(b >= 1 && b <= 60,
        s"invalid rnd_geohash precision must be in [1..60] range, got $b")
      val s = seedOf("rnd_geohash")
      val chars = (1 to b / 5).map { i =>
        s"substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(floor(${uSql(s"${s}_$i")} * 32) AS INT) + 1, 1)"
      }
      // sub-5-bit remainder: the reference renders those bits in binary
      val rem = b % 5
      val remExpr =
        if (rem == 0) Nil
        else Seq(s"lpad(conv(CAST(floor(${uSql(s"${s}_r")} * ${1 << rem}) AS INT), 10, 2), $rem, '0')")
      s"concat(${(chars ++ remExpr).mkString(", ")})"
    }
    q = expandCalls(q, "rnd_decimal") { case Seq(p, sc, rate) =>
      val pi0 = p.trim.toInt; val si0 = sc.trim.toInt
      require(pi0 >= 1 && si0 >= 0 && si0 <= pi0, s"rnd_decimal($pi0,$si0)")
      // 128/256-bit declarations clamp to Spark's 38-digit decimals
      val pi = math.min(pi0, 38); val si = math.min(si0, pi)
      val s = seedOf("rnd_decimal")
      val v = s"CAST(floor(${uSql(s)} * 1e$pi) / 1e$si AS DECIMAL($pi,$si))"
      nullify(rate, v, s"DECIMAL($pi,$si)", s)
    }
    // weighted / zipf symbol picks and uniform arrays (reference
    // rnd/RndSymbolWeightedFunctionFactory `(sym, weight)*` pairs,
    // RndSymbolZipfFunctionFactory `syms..., alpha`,
    // RndDoubleArrayFunctionFactory). Thresholds are computed in Scala
    // and inlined as double literals, so the oracle reproduces them
    // exactly (same arithmetic, same doubles).
    def cumCase(s: String, syms: Seq[String], weights: Seq[Double]): String = {
      val total = weights.sum
      val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
      val u = uSql(s)
      val whens = syms.init.zip(cum.init)
        .map { case (sym, c) => s"WHEN $u < CAST($c AS DOUBLE) THEN $sym" }.mkString(" ")
      s"(CASE $whens ELSE ${syms.last} END)"
    }
    q = expandCalls(q, "rnd_symbol_weighted") {
      case args if args.size >= 2 && args.size % 2 == 0 =>
        val pairs = args.grouped(2).toSeq.map { case Seq(sym, w) => (sym, w.trim.toDouble) }
        cumCase(seedOf("rnd_symbol_weighted"), pairs.map(_._1), pairs.map(_._2))
    }
    q = expandCalls(q, "rnd_symbol_zipf") { case args if args.size >= 2 =>
      val syms = args.init
      val alpha = args.last.trim.toDouble
      cumCase(seedOf("rnd_symbol_zipf"), syms,
        syms.indices.map(i => 1.0 / math.pow((i + 1).toDouble, alpha)))
    }
    // rnd_double_array — reference RndDoubleArrayFunctionFactory:60-107:
    //   (nDims) / (nDims, nanRate) / (nDims, nanRate, maxDimLen) /
    //   (nDims, nanRate, 0, dim1Len, dim2Len, ...) — nested DOUBLE[]…[]
    // with NaN frequency 1/(nanRate+1). Dim lengths here are
    // deterministic per call site (md5 of the seed) instead of drawn
    // from the reference PRNG — value parity is out of scope (run tier).
    q = expandCalls(q, "rnd_double_array") { case args @ (_ +: _) =>
      def lit(a: String): Int = {
        val t = a.trim.replaceAll("(?i)::\\s*\\w+$", "").replaceAll("^'|'$", "")
        t.toInt
      }
      val nDims = lit(args.head)
      // the reference returns a NULL array for 0 dims (ArrayTest
      // rnd_double_array(0, ...) prints null); >32 dims is an error
      if (nDims == 0) "CAST(NULL AS ARRAY<DOUBLE>)"
      else {
      require(nDims >= 1 && nDims <= 32, s"rnd_double_array: nDims in [1,32], got $nDims")
      val nanRate = if (args.size >= 2) lit(args(1)) else 0
      val s = seedOf("rnd_double_array")
      val lens: Seq[Int] =
        if (args.size >= 4 && lit(args(2)) == 0) args.drop(3).map(lit)
        else {
          val maxLen = math.min(if (args.size >= 3) lit(args(2)) else 16, 8)
          require(maxLen >= 1, s"maxDimLength must be a positive integer [maxDimLength=$maxLen]")
          (1 to nDims).map(i => 1 + math.abs((s + i).hashCode) % maxLen)
        }
      require(lens.size == nDims, "dim count mismatch")
      // element: uniform [0,1) from md5(seed ‖ x ‖ loop indices), NaN'd
      // at 1/(nanRate+1) from an independent salt
      def u(salt: String, tag: String): String = {
        val terms = (1 to 8).map { i =>
          s"(locate(substring(md5(concat('${s}_$tag', cast(x as string), $salt)), $i, 1), '0123456789abcdef') - 1) * ${math.pow(16.0, 8 - i)}"
        }
        s"((${terms.mkString(" + ")}) / ${math.pow(16.0, 8)})"
      }
      def build(depth: Int, salt: String): String =
        if (depth == nDims) {
          val e = u(salt, "v")
          if (nanRate <= 0) e
          else s"(CASE WHEN ${u(salt, "nan")} * ${nanRate + 1}.0 < 1.0 THEN double('NaN') ELSE $e END)"
        } else {
          val v = s"i$depth"
          s"transform(sequence(1, ${lens(depth)}), $v -> ${build(depth + 1, s"$salt, '_', $v")})"
        }
      build(0, "''")
      }
    }
    // list('A', 'B', ...) cycles its constants row by row (reference
    // rnd/ListFunctionFactory.Func.next — sequential, not random).
    // HORIZON JOIN's `LIST (offsets)` clause spells the same word — that
    // grammar owns it there
    if (!"""(?i)\bHORIZON\s+JOIN\b""".r.findFirstIn(q).isDefined)
      q = expandCalls(q, "list") { case args if args.nonEmpty =>
        s"element_at(array(${args.mkString(", ")}), CAST(pmod(x - 1, ${args.size}) AS INT) + 1)"
      }
    // rnd_bin([lo, hi, nullRate]) — random BINARY of lo..hi bytes
    // (reference rnd/RndBinFunctionFactory; default 10..32). Length is
    // deterministic per call site, bytes from the md5 stream.
    q = expandCalls(q, "rnd_bin") { case args if args.isEmpty || args.size == 3 =>
      val s = seedOf("rnd_bin")
      val (lo, hi, rate) =
        if (args.isEmpty) (10, 32, "0")
        else (args(0).trim.toInt, args(1).trim.toInt, args(2).trim)
      val len = lo + math.abs(s.hashCode) % math.max(hi - lo + 1, 1)
      val hexes = (0 until (len + 15) / 16).map(i =>
        s"md5(concat('${s}_$i', cast(x as string)))").mkString("concat(", ", ", ")")
      nullify(rate, s"unhex(substring($hexes, 1, ${len * 2}))", "BINARY", s)
    }
    q = expandCalls(q, "rnd_interval") { _ =>
      val s = seedOf("rnd_interval")
      val lo = s"timestamp_micros(CAST(floor(${uSql(s)} * 2678400000000.0) + 1704067200000000 AS BIGINT))"
      s"named_struct('lo', $lo, 'hi', timestamp_micros(unix_micros($lo) + CAST(floor(${uSql(s + "_w")} * 3600000000.0) AS BIGINT)))"
    }
    if (saltFallback) q = q.replace("cast(x as string)", "cast(__rnd_salt as string)")
    // a generate_series FROM exposes no `x` — salt the rnd_* stream with
    // the series value itself (per-row variation, SampleByTest telemetry
    // inserts)
    else if (hasRnd && !containsWordIgnoreCase(q, "long_sequence") &&
        containsWordIgnoreCase(q, "generate_series"))
      q = q.replace("cast(x as string)", "cast(generate_series as string)")
    q
  }

  private val DayIntervalRe =
    ("""(?i)(\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)|[\w.]+(?:\s*\(\s*\))?)""" +
      """\s+IN\s+(today|tomorrow|yesterday)\s*\(\s*\)""").r

  // ---- catalog table functions (reference functions/catalogue +
  // functions/table: tables(), table_columns('t'), table_partitions('t'),
  // wal_tables(), functions(), keywords(), live_views(),
  // materialized_views(), table_storage()) ----------------------------------

  private val TableFnRe =
    """(?i)\b(tables|wal_tables|functions|keywords|pg_get_keywords|live_views|materialized_views|views|table_storage|checkpoint_status|all_tables|query_activity|reader_pool|writer_pool|memory_metrics|table_writer_metrics|import_files|export_files|export_activity)\s*\(\s*\)""".r
  // long_sequence(n[, seed0, seed1]) — reference LongSequenceFunctionFactory.
  // Seeds are accepted and ignored: the rnd_* stream here is
  // md5-deterministic by construction (see rewriteGeneratorFns)
  private val LongSeqRe =
    """(?i)\blong_sequence\s*\(\s*([\d\s+*/Ll-]+?)\s*(?:,\s*-?\d+\s*,\s*-?\d+\s*)?\)""".r

  /** Constant-fold an integer arithmetic expression (reference accepts
    * arithmetic in generator args: `long_sequence(4 * 24 * 60)`). */
  private[sql] def evalLongExpr(e0: String): Option[Long] = {
    val e = e0.replaceAll("(?<=\\d)[Ll]", "").trim
    if (!e.matches("[\\d\\s()+*/-]+")) return None
    try Some(evalArith(e).toLong) catch { case _: Exception => None }
  }

  private def evalArith(s: String): String = {
    // recursive descent: expr := mul (('+'|'-') mul)*, mul := atom (('*'|'/') atom)*
    var i = 0
    def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    def atom(): Long = {
      ws()
      if (i < s.length && s.charAt(i) == '(') {
        i += 1; val v = expr(); ws()
        if (i < s.length && s.charAt(i) == ')') i += 1
        v
      } else if (i < s.length && s.charAt(i) == '-') { i += 1; -atom() }
      else {
        val j = i
        while (i < s.length && s.charAt(i).isDigit) i += 1
        s.substring(j, i).toLong
      }
    }
    def mul(): Long = {
      var v = atom(); ws()
      while (i < s.length && (s.charAt(i) == '*' || s.charAt(i) == '/')) {
        val op = s.charAt(i); i += 1
        val r = atom()
        v = if (op == '*') v * r else v / r
        ws()
      }
      v
    }
    def expr(): Long = {
      var v = mul(); ws()
      while (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) {
        val op = s.charAt(i); i += 1
        val r = mul()
        v = if (op == '+') v + r else v - r
        ws()
      }
      v
    }
    expr().toString
  }
  private val TableArgFnRe =
    """(?i)\b(table_columns|table_partitions|files|wal_transactions)\s*\(\s*'([^']+)'\s*\)""".r
  private val ReadParquetRe =
    """(?i)\b(read_parquet|parquet_scan)\s*\(\s*'([^']+)'\s*\)""".r
  private val GlobFnRe =
    """(?i)\bglob\s*\(\s*'([^']*)'\s*\)""".r
  private val GenSeriesRe =
    """(?i)\bFROM\s+generate_series\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*(?:,\s*(-?\d+)\s*)?\)""".r

  /** Remaining generate_series forms (reference
    * functions/table/GenerateSeries*FunctionFactory): doubles, expression
    * bounds, timestamp bounds with duration strides ('2y', '1U', '-1w'),
    * descending for a negative stride (the series then starts at the
    * upper bound). Lowered to an inline explode(sequence(...)) subquery.
    */
  private def rewriteGenSeriesGeneral(q: String): String = {
    // balanced-paren scan: cast lowerings (ns string parses) nest deeper
    // than any fixed-depth regex
    val pat = java.util.regex.Pattern.compile("(?i)\\b(FROM\\s+)generate_series\\s*\\(")
    var out = q
    var m = pat.matcher(out)
    var guard = 0
    while (m.find() && guard < 32) {
      guard += 1
      val open = m.end() - 1
      var depth = 0; var i = open; var end = -1
      while (i < out.length && end < 0) {
        out.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case '\'' => var k = i + 1; while (k < out.length && out.charAt(k) != '\'') k += 1; i = k
          case _ =>
        }
        i += 1
      }
      if (end < 0) return out
      val args = splitSelect(out.substring(open + 1, end)).map(_.trim)
      out = out.substring(0, m.start()) + m.group(1) + genSeriesSubquery(args) +
        out.substring(end + 1)
      m = pat.matcher(out)
    }
    out
  }

  private def genSeriesSubquery(args0: Seq[String]): String = {
    // ::timestamp casts were already lowered to timestamp_micros(CAST(n
    // AS BIGINT)) by the cast pass — fold those back to their micros
    // count so a timestamp-typed step works
    // (GenerateSeriesFunctionFactoryTest `(-2)::timestamp` steps)
    val TsLit = """(?is)^timestamp_micros\s*\(\s*CAST\s*\(\s*\(?\s*(-?\d+)\s*\)?\s+AS\s+BIGINT\s*\)\s*\)$""".r
    // an integral ::timestamp_ns cast lands as CAST(n AS BIGINT) — a ns
    // endpoint makes the whole series nanosecond-granular (reference
    // GenerateSeriesTimestampNs): integer bounds/steps are NANOS there
    val NsLit = """(?is)^CAST\s*\(\s*\(?\s*(-?\d+)\s*\)?\s+AS\s+BIGINT\s*\)$""".r
    // ns string parses (nsParseExpr output) carry the 9-digit rpad
    def isNsParse(a: String) = a.contains("rpad(") && a.contains("9, '0'")
    // calendar (M/y) strides step by add_months whatever the precision —
    // the generic month branch below handles them
    val calendarStep = args0.lift(2).map(_.trim).exists(s =>
      s.startsWith("'") && """^-?\d*[My]$""".r.findFirstIn(stripQuotes(s)).isDefined)
    val nsMode = !calendarStep && args0.map(_.trim).exists(a =>
      NsLit.findFirstMatchIn(a).isDefined || a.contains("1000000000") || isNsParse(a))
    var foldedTs = false
    val args = args0.map(_.trim).map {
      case TsLit(n) => foldedTs = true
        if (nsMode) (n.toLong * 1000L).toString else n // µs bound → ns
      case NsLit(n) => foldedTs = true; n
      case a => a
    }
    if (nsMode) {
      // all arithmetic in nanos; the result rides µs timestamps (sub-µs
      // digits of the corpus grids are zero)
      def nsExpr(a: String): String =
        if (a.matches("-?\\d+[Ll]?")) a.stripSuffix("L").stripSuffix("l")
        else if (a.contains("1000000000") || isNsParse(a)) s"($a)" // ns BIGINT already
        else s"(unix_micros(CAST($a AS TIMESTAMP)) * 1000)"
      val stepNs = args.lift(2).map(_.trim) match {
        case Some(s) if s.matches("-?\\d+[Ll]?") => s.stripSuffix("L").stripSuffix("l").toLong
        case Some(s) if s.startsWith("'") =>
          val m2 = """^(-?)(\d+)([nUTsmhdw])$""".r.findFirstMatchIn(stripQuotes(s)).get
          (if (m2.group(1) == "-") -1L else 1L) * m2.group(2).toLong *
            (if (m2.group(3) == "n") 1L else unitMicros(m2.group(3)) * 1000L)
        case _ => 1000L
      }
      val lo = nsExpr(args(0)); val hi = nsExpr(args(1))
      // bounds may arrive in either order; a negative step descends from
      // the numeric maximum (reference GenerateSeries bound swap)
      val (base, bound) =
        if (stepNs >= 0) (s"LEAST(($lo), ($hi))", s"GREATEST(($lo), ($hi))")
        else (s"GREATEST(($lo), ($hi))", s"LEAST(($lo), ($hi))")
      val n = s"CAST(floor(CAST(($bound) - ($base) AS DOUBLE) / ($stepNs)) AS INT)"
      // the series rides the BIGINT-nanos carrier so sub-µs residues
      // survive (tagNsColumns marks it; RefText prints 9 digits)
      return s"(SELECT CAST(($base) + CAST(__x AS BIGINT) * ($stepNs) AS BIGINT) AS generate_series" +
        s" FROM (SELECT explode(CASE WHEN $n >= 0 THEN sequence(0, $n) ELSE array() END) AS __x))"
    }
    val stepRaw = args.lift(2)
    val durStep = stepRaw.flatMap { s =>
      val t = stripQuotes(s).trim
      """^(-?)(\d+)([UTsmhdwMy])$""".r.findFirstMatchIn(t)
        .filter(_ => s.trim.startsWith("'"))
    }
    val tsMode = durStep.isDefined || foldedTs ||
      args.take(2).exists(a => a.trim.startsWith("'") ||
        """(?i)::\s*timestamp|timestamp_micros\s*\(|CAST\s*\(.*AS\s+TIMESTAMP""".r.findFirstIn(a).isDefined)
    if (tsMode) {
      // a bare numeric stride over timestamps is MICROSECONDS (reference
      // timestamps are micros); quoted strides carry a unit
      val numericStep = stepRaw.map(_.trim).filter(s =>
        s.matches("-?\\d+[Ll]?") && durStep.isEmpty)
      val sgn = durStep.map(d => if (d.group(1) == "-") -1L else 1L)
        .orElse(numericStep.map(s => if (s.startsWith("-")) -1L else 1L))
        .getOrElse(1L)
      val unit = durStep.map(_.group(3)).getOrElse("U")
      val nUnits = durStep.map(_.group(2).toLong)
        .orElse(numericStep.map(s => math.abs(s.stripSuffix("L").stripSuffix("l").toLong)))
        .getOrElse(1L)
      def tsExpr(a: String): String =
        if (a.trim.matches("-?\\d+[Ll]?"))
          s"timestamp_micros(CAST(${a.trim.stripSuffix("L").stripSuffix("l")} AS BIGINT))"
        else if (isNsParse(a) || a.contains("1000000000"))
          s"timestamp_micros(CAST(($a) div 1000 AS BIGINT))" // ns BIGINT parse
        else s"CAST($a AS TIMESTAMP)"
      val lo = s"unix_micros(${tsExpr(args(0))})"
      val hi = s"unix_micros(${tsExpr(args(1))})"
      if (unit == "M" || unit == "y") {
        val months = (if (unit == "y") nUnits * 12 else nUnits) * sgn
        val e0 = tsExpr(args(0)); val e1 = tsExpr(args(1))
        val base = if (sgn >= 0) s"LEAST($e0, $e1)" else s"GREATEST($e0, $e1)"
        val bound = if (sgn >= 0) s"GREATEST($e0, $e1)" else s"LEAST($e0, $e1)"
        val n = s"CAST(floor(months_between($bound, $base) / ($months)) AS INT)"
        s"(SELECT CAST(add_months($base, __x * ($months)) AS TIMESTAMP) AS generate_series" +
          s" FROM (SELECT explode(CASE WHEN $n >= 0 THEN sequence(0, $n) ELSE array() END) AS __x))"
      } else {
        val us = nUnits * unitMicros(unit) * sgn
        val base = if (sgn >= 0) s"LEAST(($lo), ($hi))" else s"GREATEST(($lo), ($hi))"
        val bound = if (sgn >= 0) s"GREATEST(($lo), ($hi))" else s"LEAST(($lo), ($hi))"
        val n = s"CAST(floor(CAST(($bound) - ($base) AS DOUBLE) / ($us)) AS INT)"
        s"(SELECT timestamp_micros(CAST(($base) + CAST(__x AS BIGINT) * ($us) AS BIGINT)) AS generate_series" +
          s" FROM (SELECT explode(CASE WHEN $n >= 0 THEN sequence(0, $n) ELSE array() END) AS __x))"
      }
    } else {
      val lo = args(0)
      val hi = args(1)
      val st = stepRaw.getOrElse("1")
      // the bounds are an unordered range; a negative step starts at the
      // numeric maximum and descends (reference bound swap)
      val base = s"(CASE WHEN ($st) < 0 THEN GREATEST(($lo), ($hi)) ELSE LEAST(($lo), ($hi)) END)"
      val bound = s"(CASE WHEN ($st) < 0 THEN LEAST(($lo), ($hi)) ELSE GREATEST(($lo), ($hi)) END)"
      val n = s"CAST(floor(CAST(($bound) - ($base) AS DOUBLE) / ($st)) AS INT)"
      // fractional steps accumulate iteratively in the reference
      // (cursor does cur += step), whose float error differs from
      // base + k*step — replay the additions for value parity
      val value =
        if (st.contains("."))
          s"aggregate(CASE WHEN __x > 0 THEN sequence(1, __x) ELSE array() END, " +
            s"CAST($base AS DOUBLE), (acc, i) -> acc + ($st))"
        else s"$base + __x * ($st)"
      s"(SELECT $value AS generate_series" +
        s" FROM (SELECT explode(CASE WHEN $n >= 0 THEN sequence(0, $n) ELSE array() END) AS __x))"
    }
  }

  /** Substitute catalog table-function calls with freshly materialized
    * temp views (they reflect the live catalog at query time).
    */
  private def rewriteTableFns(spark: SparkSession, q: String): String = {
    val step1 = TableFnRe.replaceAllIn(q, m => {
      val fn = m.group(1).toLowerCase
      val df = fn match {
        case "tables" => graft.Catalog.tables(spark)
        case "wal_tables" => graft.Catalog.walTables(spark)
        case "functions" => graft.Catalog.functionsList(spark)
        case "keywords" => graft.Catalog.keywords(spark)
        case "live_views" => graft.Catalog.liveViews(spark)
        case "materialized_views" => graft.Catalog.matViews(spark)
        case "views" => graft.Catalog.views(spark)
        case "table_storage" => graft.Catalog.tableStorage(spark)
        case "checkpoint_status" => graft.ops.Checkpoint.status(spark)
        case "all_tables" => graft.Catalog.allTables(spark)
        case "query_activity" => queryActivity(spark)
        case "pg_get_keywords" =>
          // PG shape: word / catcode / catdesc (catalogue/
          // PgGetKeywordsFunctionFactory)
          graft.Catalog.keywords(spark)
            .selectExpr("keyword AS word", "'U' AS catcode", "'unreserved' AS catdesc")
        case "reader_pool" => graft.Catalog.readerPool(spark)
        case "writer_pool" => graft.Catalog.writerPool(spark)
        case "memory_metrics" => graft.Catalog.memoryMetrics(spark)
        case "table_writer_metrics" => graft.Catalog.tableWriterMetrics(spark)
        case "import_files" => graft.Catalog.importFiles(spark)
        case "export_files" => graft.Catalog.exportFiles(spark)
        case "export_activity" => graft.Catalog.exportActivity(spark)
      }
      val view = s"__graft_fn_$fn"
      df.createOrReplaceTempView(view)
      view
    })
    val step1b = LongSeqRe.replaceAllIn(step1, m => {
      val n = evalLongExpr(m.group(1)).getOrElse(
        throw new IllegalArgumentException(s"long_sequence: non-constant count '${m.group(1)}'"))
      // a non-positive count yields an empty sequence (reference
      // LongSequenceFunctionFactory clamps, SqlCodeGeneratorTest)
      val view = s"__graft_ls_$n".replace("-", "m")
      graft.functions.Generators.longSequence(spark, math.max(n, 0L))
        .createOrReplaceTempView(view)
      view
    })
    val step2 = GenSeriesRe.replaceAllIn(step1b, m => {
      val lo = m.group(1).toLong
      val hi = m.group(2).toLong
      val step = Option(m.group(3)).map(_.toLong).getOrElse(1L)
      val view = s"__graft_gs_${lo}_${hi}_$step".replace("-", "m")
      graft.functions.Generators.generateSeries(spark, lo, hi, step)
        .createOrReplaceTempView(view)
      s"FROM $view"
    })
    val step2a = rewriteGenSeriesGeneral(step2)
    // read_parquet('path') / parquet_scan('path') table functions
    // (reference functions/table/ReadParquetFunctionFactory — SURVEY
    // §2.1): the path is materialized as a temp view over the native
    // parquet source, so pushdown/pruning apply as for any scan
    val step2b = ReadParquetRe.replaceAllIn(step2a, m => {
      val path = m.group(2)
      val view = s"__graft_rp_${Integer.toHexString(path.hashCode).replace("-", "m")}"
      spark.read.parquet(path).createOrReplaceTempView(view)
      view
    })
    // glob('pattern') — filesystem listing with glob match
    // (catalogue/GlobFilesFunctionFactory)
    val step2c = GlobFnRe.replaceAllIn(step2b, m => {
      val pat = m.group(1)
      val view = s"__graft_glob_${Integer.toHexString(pat.hashCode).replace("-", "m")}"
      graft.Catalog.glob(spark, pat).createOrReplaceTempView(view)
      view
    })
    TableArgFnRe.replaceAllIn(step2c, m => {
      import spark.implicits._
      val fn = m.group(1).toLowerCase
      val t = m.group(2)
      val df = fn match {
        case "table_columns" => graft.Catalog.tableColumns(spark, t)
        case "files" => graft.Catalog.files(spark, t)
        case "table_partitions" => SessionCatalog(spark).pathOf(t) match {
          case Some(p) if new java.io.File(p).isDirectory =>
            graft.Catalog.tablePartitions(spark, p)
          case _ => graft.Catalog.tablePartitionsFull(spark, t)
        }
        case "wal_transactions" =>
          // arg is a table name (reference WalTransactionsFunctionFactory
          // signature `wal_transactions(s)`); a raw directory also works
          graft.Catalog.walTransactions(spark,
            SessionCatalog(spark).pathOf(t).getOrElse(t))
      }
      val view = s"__graft_fn_${fn}_${t.replaceAll("\\W", "_")}"
      df.createOrReplaceTempView(view)
      view
    })
  }

  // ---- SHOW commands (reference SqlParser.java:3833-3883,
  // engine/table/Show*RecordCursorFactory, catalogue/Show*CursorFactory) ----

  private val ShowColsRe = """(?is)^SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([\w.]+)$""".r
  private val ShowPartsRe = """(?is)^SHOW\s+PARTITIONS\s+(?:FROM|IN)\s+([\w.]+)$""".r
  private val ShowCreateRe = """(?is)^SHOW\s+CREATE\s+TABLE\s+([\w.]+)$""".r

  private def showForm(spark: SparkSession, q: String): Option[DataFrame] = {
    import spark.implicits._
    def one(name: String, value: String): DataFrame =
      Seq(value).toDF(name)
    val norm = q.trim.replaceAll("\\s+", " ")
    norm match {
      case ShowColsRe(t) => Some(graft.Catalog.showColumns(spark, t))
      case ShowCreateRe(t) => Some(graft.Catalog.showCreateTable(spark, t))
      case ShowPartsRe(t) =>
        val path = SessionCatalog(spark).pathOf(t)
        Some(path match {
          case Some(p) if new java.io.File(p).isDirectory =>
            graft.Catalog.tablePartitions(spark, p)
          case _ => graft.Catalog.tablePartitionsFull(spark, t.split('.').last)
        })
      case _ => norm.toUpperCase match {
        case "SHOW TABLES" =>
          Some(graft.Catalog.tables(spark).select(col("table_name")).orderBy(col("table_name")))
        case "SHOW TIME ZONE" =>
          Some(one("TimeZone", spark.sessionState.conf.sessionLocalTimeZone))
        case "SHOW SERVER_VERSION" => Some(one("server_version", "12.3 (graft)"))
        case "SHOW SERVER_VERSION_NUM" => Some(one("server_version_num", "120300"))
        case "SHOW TRANSACTION ISOLATION LEVEL" | "SHOW TRANSACTION_ISOLATION" =>
          Some(one("transaction_isolation", "read committed"))
        case "SHOW MAX_IDENTIFIER_LENGTH" => Some(one("max_identifier_length", "63"))
        case "SHOW DEFAULT_TRANSACTION_READ_ONLY" =>
          Some(one("default_transaction_read_only", "off"))
        case "SHOW STANDARD_CONFORMING_STRINGS" =>
          Some(one("standard_conforming_strings", "on"))
        case "SHOW SEARCH_PATH" => Some(one("search_path", "\"$user\", public"))
        case "SHOW DATESTYLE" => Some(one("DateStyle", "ISO,YMD"))
        case "SHOW PARAMETERS" =>
          Some(Seq(
            ("cairo.sql.backup.root", "QDB_CAIRO_SQL_BACKUP_ROOT", "null"),
            ("shared.worker.count", "QDB_SHARED_WORKER_COUNT",
              spark.sparkContext.defaultParallelism.toString),
            ("query.timeout.sec", "QDB_QUERY_TIMEOUT_SEC", "60"))
            .toDF("property_path", "env_var_name", "value"))
        case _ => None
      }
    }
  }

  /** Pure string-level rewrites (interval literals, LATEST ON,
    * SAMPLE BY without FILL, negative/range LIMIT).
    */
  def rewrite(query: String, cat: SessionCatalog): String = {
    var q = rewriteIntervalLiterals(
      normalizeSampleByStride(query.trim.stripSuffix(";")))
    q = rewriteFnMacros(cat, q)
    q = rewriteWindowInAgg(q)
    q = rewriteLatestByDeprecated(cat, q)
    q = rewriteLatestOn(q)
    q = rewriteSampleBy(cat, q)
    q = rewriteNestedSampleBy(cat, q)
    q = rewriteNegativeLimit(cat, q)
    q = rewriteRangeLimit(q)
    q
  }

  // ---- bind variables -------------------------------------------------------

  private def renderLit(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case d: java.sql.Date => s"DATE '$d'"
    case i: java.time.Instant => s"TIMESTAMP '${java.sql.Timestamp.from(i)}'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case n => n.toString
  }

  private def substParams(q: String, named: Map[String, Any]): String =
    """(?<![:\w]):([A-Za-z_]\w*)""".r.replaceAllIn(q, m =>
      named.get(m.group(1)) match {
        case Some(v) => Regex.quoteReplacement(renderLit(v))
        case None => Regex.quoteReplacement(m.matched)
      })

  // ---- interval literals -------------------------------------------------

  private val IntervalLit =
    """(?i)\b([\w.]+)\s+(NOT\s+)?IN\s+'([^']+)'""".r

  private val micro = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val second = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def fmt(t: java.time.LocalDateTime): String =
    if (t.getNano == 0) t.format(second) else t.format(micro)

  /** Base interval of the literal prefix at its own precision
    * (reference `TimestampDriver.parseInterval`): lo = start of the
    * unit, hi = exclusive end of the unit.
    */
  private def basePrecision(s: String): (java.time.LocalDateTime, java.time.LocalDateTime) = {
    import java.time._
    // an explicit zone offset tail (`…T00:31:02+01:00`) converts to the
    // UTC wall clock (reference interval literals accept offsets)
    """([+-]\d{2}:\d{2})$""".r.findFirstMatchIn(s.trim).foreach { m =>
      val odt = OffsetDateTime.parse(s.trim.replace(' ', 'T'))
      val utc = odt.withOffsetSameInstant(ZoneOffset.UTC).toLocalDateTime
      return (utc, utc.plusSeconds(1))
    }
    val t = s.stripSuffix("Z").replace(' ', 'T') // UTC session — Z is a no-op
    t.length match {
      case 4 =>
        val y = t.toInt
        (LocalDateTime.of(y, 1, 1, 0, 0), LocalDateTime.of(y + 1, 1, 1, 0, 0))
      case 7 =>
        val d = YearMonth.parse(t)
        (d.atDay(1).atStartOfDay(), d.plusMonths(1).atDay(1).atStartOfDay())
      case 10 =>
        val d = LocalDate.parse(t)
        (d.atStartOfDay(), d.plusDays(1).atStartOfDay())
      case 13 =>
        val d = LocalDateTime.parse(t + ":00:00")
        (d, d.plusHours(1))
      case 16 =>
        val d = LocalDateTime.parse(t + ":00")
        (d, d.plusMinutes(1))
      case 19 =>
        val d = LocalDateTime.parse(t)
        (d, d.plusSeconds(1))
      case n if n > 20 && t.charAt(19) == '.' =>
        // ns-precision literals (TIMESTAMP_NS tests) truncate to µs here
        val digits = math.min(n - 20, 9)
        val t9 = if (n - 20 > 9) t.substring(0, 29) else t
        val d = LocalDateTime.parse(t9)
        (d, d.plusNanos(math.pow(10, 9 - digits).toLong.max(1000L)))
      case _ => throw new IllegalArgumentException(s"unsupported interval literal '$s'")
    }
  }

  private val DurPart = """(\d+)([UTsmhdwMy])""".r

  /** Add a (possibly compound, e.g. `1h30m`) duration — reference
    * `IntervalUtils.addDuration`.
    */
  private def plusDuration(t: java.time.LocalDateTime, dur: String, times: Long = 1): java.time.LocalDateTime = {
    val parts = DurPart.findAllMatchIn(dur).toSeq
    require(parts.nonEmpty && parts.map(_.matched).mkString == dur.trim,
      s"invalid duration '$dur'")
    parts.foldLeft(t) { (acc, m) =>
      val n = m.group(1).toLong * times
      m.group(2) match {
        case "U" => acc.plusNanos(n * 1000)
        case "T" => acc.plusNanos(n * 1000000)
        case "s" => acc.plusSeconds(n)
        case "m" => acc.plusMinutes(n)
        case "h" => acc.plusHours(n)
        case "d" => acc.plusDays(n)
        case "w" => acc.plusWeeks(n)
        case "M" => acc.plusMonths(n)
        case "y" => acc.plusYears(n)
      }
    }
  }

  /** Expand a legacy interval literal `base[;duration[;period;count]]`
    * (reference `IntervalUtils.parseIntervalEx`) into half-open
    * `[lo, hi)` ranges rendered at micro precision.
    */
  def intervalRanges(lit: String): Seq[(String, String)] = {
    val parts = lit.split(";")
    require(parts.length == 1 || parts.length == 2 || parts.length == 4,
      s"malformed interval literal '$lit'")
    val (lo, hiBase) = basePrecision(parts(0).trim)
    val hi = if (parts.length >= 2) plusDuration(hiBase, parts(1).trim) else hiBase
    if (parts.length == 4) {
      val period = parts(2).trim
      val count = parts(3).trim.toInt
      require(count > 0, s"non-positive repeat count in '$lit'")
      (0 until count).map(i =>
        (fmt(plusDuration(lo, period, i)), fmt(plusDuration(hi, period, i))))
    } else Seq((fmt(lo), fmt(hi)))
  }

  /** First (or only) range of a literal — kept for compatibility. */
  def intervalBounds(lit: String): (String, String) = intervalRanges(lit).head

  private def rewriteIntervalLiterals(q: String): String =
    IntervalLit.replaceAllIn(q, m => scala.util.Try {
      val ranges = intervalRanges(m.group(3))
      val c = m.group(1)
      def usOf(s: String): Long = {
        val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      }
      // a long regular repeat (`lo;dur;period;count`) compacts to a
      // bounded range + modulo residual instead of a count-term OR
      // chain — the chain blows the downstream regex passes' stacks at
      // count≈48 and bloats the plan; the range conjuncts still push
      // down to the scan
      lazy val compact: Option[String] =
        if (ranges.size <= 8) None
        else scala.util.Try {
          val lo0 = usOf(ranges.head._1); val hi0 = usOf(ranges.head._2)
          val period = usOf(ranges(1)._1) - lo0
          val dur = hi0 - lo0
          val regular = period > 0 && dur > 0 && dur <= period &&
            ranges.zipWithIndex.forall { case ((l, h), i) =>
              usOf(l) == lo0 + i.toLong * period && usOf(h) == hi0 + i.toLong * period
            }
          if (!regular) None
          else Some(s"($c >= TIMESTAMP '${ranges.head._1}' AND " +
            s"$c < TIMESTAMP '${ranges.last._2}' AND " +
            s"pmod(unix_micros($c) - ${lo0}L, ${period}L) < ${dur}L)")
        }.toOption.flatten
      val body = compact.getOrElse(ranges
        .map { case (lo, hi) => s"($c >= TIMESTAMP '$lo' AND $c < TIMESTAMP '$hi')" }
        .mkString(" OR "))
      val wrapped = if (ranges.size > 1 && compact.isEmpty) s"($body)" else body
      Regex.quoteReplacement(
        if (m.group(2) != null) s"(NOT $wrapped)" else wrapped)
    }.getOrElse(Regex.quoteReplacement(m.matched)))

  /** Window function inside an aggregate — `max(avg(x) OVER ())` — runs
    * the window over the pre-aggregation rows in the reference
    * (WindowFunctionTest nested forms); Spark rejects the nesting.
    * Hoist each window argument into a derived table:
    * `SELECT k, max(__w1) FROM (SELECT *, avg(x) OVER () AS __w1 FROM t
    * [WHERE ...]) GROUP BY k`. Simple single-relation shape only. */
  private val WindowInAggRe =
    """(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*?))?(?:\s+GROUP\s+BY\s+((?:[\w.,\s]|\((?:[^()]|\([^()]*\))*\))+?))?\s*(ORDER\s+BY\s+.*|LIMIT\s+.*)?$""".r

  private def rewriteWindowInAgg(q: String): String = q match {
    case WindowInAggRe(sel, rel, where, groupBy, tail)
        if """(?is)\b(max|min|sum|avg|count|first|last)\s*\(""".r.findFirstIn(sel).isDefined &&
          """(?is)\bOVER\b""".r.findFirstIn(sel).isDefined =>
      val items = splitSelect(sel)
      var hoisted = Vector.empty[String]
      val aggHead = java.util.regex.Pattern.compile(
        "(?is)\\b(max|min|sum|avg|count|first|last)\\s*\\(")
      val rewrittenItems = items.map { item =>
        val m = aggHead.matcher(item)
        var out = item
        var found = false
        while (!found && m.find()) {
          val open = m.end() - 1
          var depth = 0; var i = open; var end = -1
          while (i < out.length && end < 0) {
            out.charAt(i) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) end = i
              case _ =>
            }
            i += 1
          }
          if (end > 0) {
            val arg = out.substring(open + 1, end)
            if ("""(?is)\bOVER\b""".r.findFirstIn(arg).isDefined) {
              found = true
              hoisted :+= arg.trim
              out = out.substring(0, open + 1) + s"__w${hoisted.size}" + out.substring(end)
            }
          }
          if (!found && end > 0) () // keep scanning from the matcher position
        }
        out
      }
      if (hoisted.isEmpty) q
      else {
        val whereSql = Option(where).map(w => s" WHERE $w").getOrElse("")
        val hoistSql = hoisted.zipWithIndex
          .map { case (e, i) => s"$e AS __w${i + 1}" }.mkString(", ")
        val groupSql = Option(groupBy).map(g => s" GROUP BY $g").getOrElse("")
        s"SELECT ${rewrittenItems.mkString(", ")} FROM " +
          s"(SELECT *, $hoistSql FROM $rel$whereSql)$groupSql" +
          Option(tail).map(" " + _).getOrElse("")
      }
    case _ => q
  }

  // ---- LATEST ON ---------------------------------------------------------

  private val LatestOnRe =
    """(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.]+|\((?:[^()']|'[^']*'|\((?:[^()']|'[^']*')*\))*\))(?:\s+WHERE\s+(.*?))?\s+LATEST\s+ON\s+([\w.]+)\s+PARTITION\s+BY\s+([\w.,\s]+?)\s*(ORDER\s+BY\s+.*|LIMIT\s+.*)?$""".r

  /** Deprecated `LATEST BY k` spelling (reference SqlParser:4162):
    * follows FROM directly, keys partition, designated ts orders, and —
    * unlike LATEST ON — the WHERE clause applies AFTER the latest
    * selection. */
  private def rewriteLatestByDeprecated(cat: SessionCatalog, q: String): String = {
    val t = q.trim
    if (!t.toLowerCase.startsWith("select")) return q
    val at = topLevelIndexOf(t, Seq("latest by"))
    if (at < 0) return q
    val head = t.substring(0, at).trim // SELECT ... FROM <rel>
    var rest = t.substring(at + 9).trim
    val stopAt = topLevelIndexOf(rest, Seq("where", "order by", "limit"))
    val keys = (if (stopAt < 0) rest else rest.substring(0, stopAt)).trim
    val tail = if (stopAt < 0) "" else " " + rest.substring(stopAt).trim
    if (keys.isEmpty || !keys.matches("""[\w.`]+(\s*,\s*[\w.`]+)*""")) return q
    val fromAt = topLevelIndexOf(head, Seq("from"))
    if (fromAt < 0) return q
    val relHead = """[`']?([\w.]+)""".r
      .findFirstMatchIn(head.substring(fromAt + 4).trim)
      .map(_.group(1)).getOrElse("")
    val ts = cat.designatedTs(relHead)
      .orElse(cat.get(relHead).flatMap(_.fallbackTs)).getOrElse("ts")
    s"SELECT * FROM ($head LATEST ON $ts PARTITION BY $keys)$tail"
  }

  /** Split a leading `WITH name AS (...) [, name AS (...)]*` prologue
    * from the main query (quote/paren-aware), so whole-query rewrites
    * apply to the main body of a CTE statement. */
  private[graft] def splitWithPrologue(q: String): (String, String) = {
    val t = q
    if (!t.trim.toLowerCase.startsWith("with")) return ("", q)
    var i = t.toLowerCase.indexOf("with") + 4
    def skipWs(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    var more = true
    while (more) {
      skipWs()
      // RECURSIVE keyword / cte name (possibly quoted)
      while (i < t.length && !t.charAt(i).isWhitespace && t.charAt(i) != '(') i += 1
      skipWs()
      // optional column list then AS
      if (i < t.length && t.charAt(i) == '(') { i = skipParen(t, i) ; skipWs() }
      if (i + 2 <= t.length && t.substring(i, math.min(i + 2, t.length)).equalsIgnoreCase("as")) {
        i += 2; skipWs()
      }
      if (i < t.length && t.charAt(i) == '(') i = skipParen(t, i)
      skipWs()
      if (i < t.length && t.charAt(i) == ',') { i += 1; more = true } else more = false
    }
    (t.substring(0, i), t.substring(i))
  }
  /** Index just past the parenthesized group starting at `at`. */
  private def skipParen(t: String, at: Int): Int = {
    var depth = 0; var i = at
    while (i < t.length) {
      t.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i + 1
        case '\'' => var k = i + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; i = k
        case _ =>
      }
      i += 1
    }
    i
  }

  private def rewriteLatestOn(q: String): String = {
    val (pro, main) = splitWithPrologue(q)
    if (pro.isEmpty) rewriteLatestOn0(q)
    else {
      val r = rewriteLatestOn0(main.trim)
      if (r == main.trim) q else pro + " " + r
    }
  }

  private def rewriteLatestOn0(q: String): String = q match {
    case LatestOnRe(sel, table, where, ts, keys, tail)
        if table.trim.startsWith("(") =>
      // LATEST ON over a derived relation: the reference scans the base
      // cursor forward, keeps the LAST row per key with ts >= previous
      // (LatestByLightRecordCursorFactory.buildMapForUnorderedSubQuery),
      // and emits in key-first-seen order (ordered map iteration).
      // Winner = max by (ts, scan position); emission = min position of
      // the key. Scan position comes from a single-partition sequential
      // id — this path is inherently scan-order-defined, so the
      // coalesce(1) is the semantics, not a bottleneck choice.
      val whereSql = Option(where).map(w => s" WHERE $w").getOrElse("")
      val keyList = keys.split(",").map(_.trim).mkString(", ")
      val tailSql = Option(tail) match {
        case Some(t) if t.trim.toUpperCase.startsWith("LIMIT") =>
          s" ORDER BY __graft_first $t"
        case Some(t) => " " + t
        case None => " ORDER BY __graft_first"
      }
      val outer = if (sel.trim == "*") "* EXCEPT (__rn, __graft_pos, __graft_first)" else sel
      s"""SELECT $outer FROM (
         |  SELECT *, row_number() OVER (PARTITION BY $keyList ORDER BY $ts DESC, __graft_pos DESC) AS __rn,
         |    min(__graft_pos) OVER (PARTITION BY $keyList) AS __graft_first
         |  FROM (SELECT /*+ COALESCE(1) */ *, monotonically_increasing_id() AS __graft_pos FROM $table)$whereSql
         |) WHERE __rn = 1$tailSql""".stripMargin
    case LatestOnRe(sel, table, where, ts, keys, tail) =>
      val whereSql = Option(where).map(w => s" WHERE $w").getOrElse("")
      val keyList = keys.split(",").map(_.trim).mkString(", ")
      // the reference cursor's emission order depends on the chosen
      // LatestBy* plan: a symbol-key filter (sym IN (...) / sym = ...)
      // iterates the filter keys (key order); otherwise the time index
      // is walked (designated-ts order). Restore whichever applies when
      // the statement doesn't order explicitly — unless the projection
      // aggregates (no row order to restore, and ORDER BY ts wouldn't
      // resolve over the aggregate).
      val tsOut = ts.split('.').last
      val keyCols = keys.split(",").map(_.trim.split('.').last)
      val keyFiltered = Option(where).exists(w => keyCols.exists(k =>
        s"(?i)\\b${java.util.regex.Pattern.quote(k)}\\s+(IN\\b|=)".r.findFirstIn(w).isDefined))
      val selAgg = """(?i)\b(count|sum|avg|min|max|first|last)\s*\(""".r
        .findFirstIn(sel).isDefined
      val implicitOrder =
        if (selAgg) ""
        else if (keyFiltered) s" ORDER BY ${keyCols.mkString(", ")}"
        else s" ORDER BY $tsOut"
      val tailSql = Option(tail) match {
        case Some(t) if t.trim.toUpperCase.startsWith("LIMIT") =>
          s"$implicitOrder $t"
        case Some(t) => " " + t
        case None => implicitOrder
      }
      val outer = if (sel.trim == "*") "* EXCEPT (__rn)" else sel
      s"""SELECT $outer FROM (
         |  SELECT *, row_number() OVER (PARTITION BY $keyList ORDER BY $ts DESC) AS __rn
         |  FROM $table$whereSql
         |) WHERE __rn = 1$tailSql""".stripMargin
    case _ => q
  }

  // ---- shared parsing helpers ----------------------------------------------

  /** A relation reference: table name or one-level-nested subquery. */
  private val Rel = """(`[^`]+`|[\w.]+|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))"""

  /** Resolve a relation reference: table name, or a parenthesized
    * subquery run back through the dialect.
    */
  private def resolveRel(spark: SparkSession, ref: String): (DataFrame, String) = {
    val r = ref.trim
    val (df, name) =
      if (r.startsWith("(")) {
        val inner = r.stripPrefix("(").stripSuffix(")")
        val d = sqlBound(spark, inner, Map.empty)
        // ns-marked select aliases (cast(... as timestamp_ns) AS c) keep
        // their TIMESTAMP_NS declaration under a synthetic rel name so
        // tsOfRel can find the minted carrier
        // (SampleByNanoTimestampTest:3090)
        if ("(?i)timestamp_ns\\b|timestamp_sequence_ns|__ns_cast".r.findFirstIn(inner).isDefined) {
          val synth = s"__graft_rel_${subqueryCounter.incrementAndGet()}"
          registerCtasNsCols(SessionCatalog(spark), synth, inner)
          (d, synth)
        } else (d, "")
      }
      else (spark.table(r), r)
    (nsKeyToMicros(df, tsOfRel(name, df)), name)
  }

  /** A TIMESTAMP_NS designated key rides as a BIGINT nanos column
    * (timestamp_sequence_ns & friends); the time-series op forms need a
    * real timestamp — convert ns→µs on entry so SAMPLE BY / ASOF /
    * LATEST ON treat ns tables like µs ones (reference TimestampDriver
    * dispatches per-unit the same way). */
  private def nsKeyToMicros(df: DataFrame, ts: String): DataFrame =
    df.schema.fields.find(_.name.equalsIgnoreCase(ts)) match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn(f.name, timestamp_micros(col(f.name) / lit(1000L) cast "long"))
      case _ => df
    }

  /** Normalize every `SAMPLE BY <stride>` spelling to the canonical
    * `<n><unit>` the lowering regexes expect. The reference accepts a
    * bare unit (`SAMPLE BY d` = 1 day, SqlParser implied-1 stride) and
    * constant integer expressions (`300/10 h`, `(1+2)*10L m` —
    * compile-time-folded in the reference); fold them here. */
  private def normalizeSampleByStride(q0: String): String = {
    // parenthesized stride (`sample by (1m)`, SqlOptimiserTest) — the
    // parens are grouping, not a call
    val q = q0.replaceAll(
      "(?i)\\b(SAMPLE\\s+BY)\\s*\\(\\s*(\\d*\\s*[UTsmhdwMy])\\s*\\)", "$1 $2")
    val m = java.util.regex.Pattern.compile("(?is)\\bSAMPLE\\s+BY\\s+").matcher(q)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(q.substring(last, m.end()))
      // chunk = text up to the next clause keyword / close-paren at depth 0
      var i = m.end(); var depth = 0; var end = -1
      val stop = Set("align", "fill", "from", "to", "order", "limit",
        "union", "intersect", "except", "latest", "where", "sample")
      while (i < q.length && end < 0) {
        val c = q.charAt(i)
        if (c == '(') { depth += 1; i += 1 }
        else if (c == ')') { if (depth == 0) end = i else { depth -= 1; i += 1 } }
        else if (c == '\'') { end = i }
        else if (depth == 0 && c.isLetter) {
          val w = q.substring(i).takeWhile(ch => ch.isLetterOrDigit || ch == '_')
          if (stop(w.toLowerCase)) end = i else i += w.length
        } else i += 1
      }
      if (end < 0) end = q.length
      val chunk = q.substring(m.end(), end)
      val t = chunk.trim
      val folded =
        if (t.matches("\\d+[UTsmhdwMy]")) None // already canonical
        else if (t.matches("[0-9+\\-*/()\\sLl_]*[UTsmhdwMy]")) {
          val unit = t.last.toString
          val expr = t.dropRight(1).replaceAll("[Ll_]", "").trim
          evalIntExpr(expr).map(n => s"$n$unit")
        } else None
      folded match {
        case Some(norm) =>
          sb.append(norm)
          if (end < q.length && q.charAt(end) != ')') sb.append(' ')
        case None => sb.append(chunk)
      }
      last = end
    }
    sb.append(q.substring(last))
    sb.toString
  }

  /** Fold a constant integer arithmetic expression with parens; empty → 1. */
  private def evalIntExpr(s0: String): Option[Long] = {
    val s = s0.trim
    if (s.isEmpty) return Some(1L)
    var pos = 0
    def peek: Char = if (pos < s.length) s.charAt(pos) else '\u0000'
    def skipWs(): Unit = while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1
    def atom(): Long = {
      skipWs()
      if (peek == '(') { pos += 1; val v = expr(); skipWs(); require(peek == ')'); pos += 1; v }
      else if (peek == '-') { pos += 1; -atom() }
      else { val st = pos; while (pos < s.length && s.charAt(pos).isDigit) pos += 1
             require(pos > st); s.substring(st, pos).toLong }
    }
    def term(): Long = {
      var v = atom(); skipWs()
      while (peek == '*' || peek == '/') {
        val op = peek; pos += 1; val r = atom()
        v = if (op == '*') v * r else v / r; skipWs()
      }; v
    }
    def expr(): Long = {
      var v = term(); skipWs()
      while (peek == '+' || peek == '-') {
        val op = peek; pos += 1; val r = term()
        v = if (op == '+') v + r else v - r; skipWs()
      }; v
    }
    try { val v = expr(); skipWs(); if (pos == s.length && v > 0) Some(v) else None }
    catch { case _: Exception => None }
  }

  /** Resolve three-letter zone abbreviations the reference's tz database
    * accepts but java.time rejects as bare IDs (EST, PST, ...) via
    * ZoneId.SHORT_IDS; region IDs and offsets pass through. */
  private[sql] def normTz(tz: String): String =
    java.time.ZoneId.SHORT_IDS.getOrDefault(tz, tz)

  /** normTz over a SQL expression argument — rewrites quoted literals
    * only, leaves column/expr operands alone. */
  private def normTzArg(e: String): String = {
    val t = e.trim
    if (t.length > 2 && t.head == '\'' && t.last == '\'')
      "'" + normTz(t.substring(1, t.length - 1)) + "'"
    else e
  }

  private[sql] def strideOf(n: String, unit: String): String = unit match {
    case "U" => s"$n microseconds"
    case "T" => s"$n milliseconds"
    case "s" => s"$n seconds"
    case "m" => s"$n minutes"
    case "h" => s"$n hours"
    case "d" => s"$n days"
    case "w" => s"${n.toLong * 7} days"
    case "M" => s"$n months"
    case "y" => s"${n.toLong * 12} months"
  }

  private def unitMicros(u: String): Long = u.toLowerCase.stripSuffix("s") match {
    case "u" => 1L
    case "t" => 1000L
    case "microsecond" => 1L
    case "millisecond" => 1000L
    case "second" => 1000000L
    case "minute" => 60000000L
    case "hour" => 3600000000L
    case "day" => 86400000000L
    case "week" => 7L * 86400000000L
    case _ => u match {
      case "U" => 1L; case "T" => 1000L
      case "s" => 1000000L; case "m" => 60000000L
      case "h" => 3600000000L; case "d" => 86400000000L
      case "w" => 7L * 86400000000L
    }
  }

  /** Split a select list on top-level commas. */
  /** ALTER COLUMN … TYPE conversion with reference ColumnType rules the
    * plain Spark cast misses: numeric → integral narrows to NULL out of
    * range (not wrap, ParquetWriteTest DOUBLE→INT 1e15 → null), numeric
    * → TIMESTAMP reads MICROS (not seconds), numeric → DATE reads
    * MILLIS into the NTZ carrier. */
  private def alterTypeCast(t: DataFrame, c: String, typ: String): Column = {
    import org.apache.spark.sql.types._
    val src = t.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    val numericSrc = src.exists {
      case _: NumericType => true
      case _ => false
    }
    val up = typ.trim.toUpperCase
    val v = col(c)
    def ranged(lo: Long, hi: Long, sparkT: String): Column =
      when(v.isNull || v < lit(lo).cast("double") || v > lit(hi).cast("double"),
        lit(null).cast(sparkT))
        .otherwise(v.cast(sparkT))
    (up, numericSrc) match {
      case ("INT" | "INTEGER", true) => ranged(Int.MinValue, Int.MaxValue, "int")
      case ("SHORT", true) => ranged(Short.MinValue, Short.MaxValue, "smallint")
      case ("BYTE", true) => ranged(Byte.MinValue, Byte.MaxValue, "tinyint")
      case ("LONG" | "BIGINT", true) => ranged(Long.MinValue, Long.MaxValue, "bigint")
      case ("TIMESTAMP", true) => timestamp_micros(v.cast("bigint"))
      case ("DATE", true) => timestamp_millis(v.cast("bigint")).cast(TimestampNTZType)
      case ("DATE", false) if src.contains(TimestampType) =>
        // µs timestamp → ms datetime carrier
        timestamp_millis((unix_micros(v) / lit(1000L)).cast("long")).cast(TimestampNTZType)
      case _ => v.cast(sparkTypeOf(typ))
    }
  }

  /** `select * from (… SAMPLE BY … FILL(…)) where <key-only predicate>`:
    * the reference pushes key-column predicates beneath the fill
    * cartesian (PR #6946 — filtered keys never enter the grid, so the
    * fill spine spans only the surviving data). Predicates touching the
    * designated ts or aggregate outputs stay outside (they filter
    * bucket labels, SampleByNanoTimestampTest first-obs cases). */
  private def pushFilterIntoSampleBy(cat: SessionCatalog, q: String): String = {
    val m = """(?is)^\s*select\s+\*\s+from\s*\(""".r.findFirstMatchIn(q).getOrElse(return q)
    var i = m.end - 1; var depth = 0; var close = -1
    while (i < q.length && close < 0) {
      q.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case '\'' =>
          var k = i + 1
          while (k < q.length && q.charAt(k) != '\'') k += 1
          i = k
        case _ =>
      }
      i += 1
    }
    if (close < 0) return q
    val inner = q.substring(m.end, close)
    val sbAt = topLevelIndexOf(inner, Seq("sample by"))
    if (sbAt < 0 || !"""(?i)\bfill\s*\(""".r.findFirstIn(inner.substring(sbAt)).isDefined)
      return q
    val tail = q.substring(close + 1).trim
    val wm = """(?is)^where\s+(.+)$""".r.findFirstMatchIn(tail).getOrElse(return q)
    val pred = wm.group(1).trim
    if ("""(?is)\border\s+by\b|\blimit\b|\bunion\b|\bsample\b""".r.findFirstIn(pred).isDefined)
      return q
    // bare key items of the inner select list (top-level FROM bounds it)
    val innerLow = inner.toLowerCase
    val selAt = innerLow.indexOf("select")
    if (selAt < 0) return q
    val fromAt = topLevelIndexOf(inner, Seq("from"))
    if (fromAt <= selAt) return q
    val items = splitSelect(inner.substring(selAt + 6, fromAt)).map(_.trim)
    val bare = items.filter(_.matches("[A-Za-z_]\\w*")).map(_.toLowerCase).toSet
    val fromTbl = """(?is)\bfrom\s+([\w.]+)""".r.findFirstMatchIn(inner).map(_.group(1))
    val tsName = fromTbl.flatMap(cat.designatedTs)
      .map(_.toLowerCase)
    val kw = Set("and", "or", "not", "in", "is", "null", "true", "false",
      "between", "like", "ilike", "cast", "as")
    val predNoLits = pred.replaceAll("'(?:[^']|'')*'", " ")
    val refs = "[A-Za-z_]\\w*".r.findAllIn(predNoLits).map(_.toLowerCase)
      .filterNot(kw).toSeq.distinct
    if (refs.isEmpty || !refs.forall(r => bare(r) && !tsName.contains(r))) return q
    // splice the predicate beneath the SAMPLE BY
    val hasWhere = topLevelIndexOf(inner.substring(0, sbAt), Seq("where")) >= 0
    val inner2 =
      if (hasWhere) inner.substring(0, sbAt) + s"AND ($pred) " + inner.substring(sbAt)
      else inner.substring(0, sbAt) + s"WHERE $pred " + inner.substring(sbAt)
    q.substring(0, m.end) + inner2 + ")"
  }

  /** CTAS over a ns-flavored defining query: register the select items
    * whose expressions spell ns-ness (::timestamp_ns → __ns_cast,
    * to_timestamp_ns, timestamp_sequence_ns) as TIMESTAMP_NS declared
    * columns, so tagNsColumns sees table-based ns provenance and
    * RefText prints the 9-digit pattern (the reference keeps the column
    * type through CTAS; this dialect keeps only the text). Runs on the
    * statement BEFORE the fn-macro pass, which erases the spellings. */
  /** CTAS select items producing ipv4 values (`expr::ipv4` → __ipv4_cast,
    * rnd_ipv4, netmask) register the alias as a declared IPV4 column so
    * later queries engage the ipv4 operator rewrites (IPv4Test
    * `create table test as (select rnd_int(...)::ipv4 ip ...)`). */
  private[sql] def preRegisterCtasIpv4(cat: SessionCatalog, q: String): Unit = {
    if ("""(?i)__ipv4_cast\s*\(|\brnd_ipv4\b|\bnetmask\s*\(|\btimestamp_sequence\s*\(|\brnd_long256\b|\bto_long256\s*\(|::\s*long256\b|\bas\s+long256\b|decimal\s*\(|chr\(CAST\(|::\s*char\b|\brnd_char\s*\(""".r
        .findFirstIn(q).isEmpty) return
    val head = """(?is)^\s*CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`"']?[\w.]+[`"']?)\s+AS\s*\(""".r
    head.findFirstMatchIn(q).foreach { m =>
      val inner0 = q.substring(m.end).trim
      val tbl = unq(m.group(1))
      def declare(col: String, tpe: String): Unit =
        cat.update(tbl)(_.withColumnIfAbsent(col, tpe))
      if (inner0.toLowerCase.startsWith("select")) {
        // select list ends at the top-level FROM
        val fromAt = topLevelIndexOf(inner0, Seq("from"))
        val selList = if (fromAt > 0) inner0.substring("select".length, fromAt) else return
        splitSelect(selList).foreach { item =>
          if ("""(?i)__ipv4_cast\s*\(|\brnd_ipv4\b|\bnetmask\s*\(""".r.findFirstIn(item).isDefined) {
            """(?is)^(.*\S)\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?\s*$""".r.findFirstMatchIn(item.trim)
              .filter(mm => mm.group(1).contains("("))
              .foreach(mm => declare(mm.group(2), "IPV4"))
          }
          // char-cast items (`(x-1)::char ch` — by now expanded to the
          // chr(CAST…) CASE) declare CHAR, so the ''≡null-char list
          // semantics can find them (InTest)
          if ("""(?i)chr\(CAST\(|::\s*char\b|\brnd_char\s*\(""".r.findFirstIn(item).isDefined) {
            """(?is)^(.*\S)\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?\s*$""".r.findFirstMatchIn(item.trim)
              .filter(mm => mm.group(1).contains("(") || mm.group(1).contains("::"))
              .foreach(mm => declare(mm.group(2), "CHAR"))
          }
          if ("""(?i)\btimestamp_sequence\s*\(""".r.findFirstIn(item).isDefined) {
            """(?is)^(.*\S)\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?\s*$""".r.findFirstMatchIn(item.trim)
              .filter(mm => mm.group(1).contains("("))
              .foreach { mm =>
                cat.update(tbl)(t =>
                  if (t.designatedTs.isDefined) t else t.copy(fallbackTs = Some(mm.group(2))))
              }
          }
          // decimal items keep their precision/scale through CTAS so
          // sum() engages the decimal256 accumulator past 28 digits
          // (SumDecimalGroupByFunctionFactoryTest:60) and avg() renders
          // at the declared scale (AvgDecimalGroupByFunctionFactoryTest)
          locally {
            val wdec = """(?i)(?:::\s*|\bas\s+)decimal\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)""".r
            val ps = wdec.findAllMatchIn(item).map(m =>
              (m.group(1).toInt, Option(m.group(2)).map(_.toInt).getOrElse(0))).toSeq
            if (ps.nonEmpty) {
              val (p, sc) = ps.maxBy(_._1)
              """(?is)^(.*\S)\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?\s*$""".r
                .findFirstMatchIn(item.trim)
                .filter(mm => mm.group(1).contains("("))
                .foreach(mm => declare(mm.group(2), s"DECIMAL($p,$sc)"))
            }
          }
          // long256-yielding items keep their type through CTAS so
          // sum() engages the 256-bit accumulator
          // (SumLong256GroupByFunctionFactoryTest CTAS over rnd_long256)
          if ("""(?i)\brnd_long256\b|\bto_long256\s*\(|::\s*long256\b|\bas\s+long256\b""".r
              .findFirstIn(item).isDefined) {
            """(?is)^(.*\S)\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?\s*$""".r.findFirstMatchIn(item.trim)
              .filterNot(mm => mm.group(2).equalsIgnoreCase("long256"))
              .foreach(mm => declare(mm.group(2), "LONG256"))
          }
        }
      }
    }
  }

  private[sql] def preRegisterCtasNs(cat: SessionCatalog, q: String): Unit = {
    val head = """(?is)^\s*CREATE\s+(?:ATOMIC\s+|BATCH\s+\d+\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`"']?[\w.]+[`"']?)\s+AS\s*\(""".r
    head.findFirstMatchIn(q).foreach { m =>
      // balanced inner text from the matched '('
      var i = m.end - 1; var depth = 0; var close = -1
      while (i < q.length && close < 0) {
        q.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case '\'' =>
            var k = i + 1
            while (k < q.length && q.charAt(k) != '\'') k += 1
            i = k
          case _ =>
        }
        i += 1
      }
      if (close > 0)
        registerCtasNsCols(cat, unq(m.group(1)), q.substring(m.end, close))
    }
  }

  private def registerCtasNsCols(cat: SessionCatalog, name: String, inner0: String): Unit = {
    val marks = "(?i)timestamp_ns\\b|timestamp_sequence_ns|__ns_cast".r
    if (marks.findFirstIn(inner0).isEmpty) return
    val inner = inner0.trim.stripPrefix("(").trim
    val low = inner.toLowerCase
    if (!low.startsWith("select")) return
    // top-level FROM terminates the first select list
    var j = "select".length; var depth = 0; var fromAt = -1
    while (j < inner.length && fromAt < 0) {
      inner.charAt(j) match {
        case '(' => depth += 1; j += 1
        case ')' => depth -= 1; j += 1
        case '\'' =>
          var k = j + 1
          while (k < inner.length && inner.charAt(k) != '\'') k += 1
          j = k + 1
        case c if depth == 0 && (c == 'f' || c == 'F') &&
            low.startsWith("from", j) && !Character.isLetterOrDigit(inner.charAt(j - 1)) &&
            (j + 4 >= inner.length || !Character.isLetterOrDigit(inner.charAt(j + 4))) =>
          fromAt = j
        case _ => j += 1
      }
    }
    val list = inner.substring("select".length, if (fromAt < 0) inner.length else fromAt)
    val nsNames = splitSelect(list).filter(_.nonEmpty)
      .filter(it => marks.findFirstIn(it).isDefined)
      .flatMap(it => AutoAlias.explicitAliasOf(it))
      .map(_.toLowerCase)
    if (nsNames.nonEmpty)
      cat.update(name)(_.copy(columns =
        nsNames.map(_ -> TableMeta.ColDecl("TIMESTAMP_NS", "")).toMap))
  }

  private[sql] def splitSelect(sel: String): Seq[String] = {
    val out = collection.mutable.Buffer[String]()
    var depth = 0; var inQ = false; val cur = new StringBuilder
    sel.foreach {
      // quote-aware: a ',' INSIDE a string literal is content, not a
      // separator (string_distinct_agg(s, ',') has two args, not three)
      case '\'' => inQ = !inQ; cur.append('\'')
      case '(' if !inQ => depth += 1; cur.append('(')
      case ')' if !inQ => depth -= 1; cur.append(')')
      case ',' if depth == 0 && !inQ => out += cur.toString.trim; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.toSeq
  }

  /** Optional post-form `WHERE` / `ORDER BY` / `LIMIT` handling shared
    * by the time-series join forms.
    */
  private val WhereTail = """(?:\s+WHERE\s+(.*?))?(?:\s+ORDER\s+BY\s+([\w.,\s]+?))?(?:\s+LIMIT\s+(-?\d+)(?:\s*,\s*(-?\d+))?)?"""

  private def applyWhereTail(df: DataFrame, where: String, order: String,
                             lim1: String, lim2: String): DataFrame = {
    val filtered = Option(where).map(df.where).getOrElse(df)
    val orderCols = Option(order).map(_.split(",").toSeq.map(_.trim).map { c =>
      val up = c.toUpperCase
      if (up.endsWith(" DESC")) expr(c.dropRight(5)).desc
      else if (up.endsWith(" ASC")) expr(c.dropRight(4)).asc
      else expr(c).asc
    })
    val sorted = orderCols.map(oc => filtered.orderBy(oc: _*)).getOrElse(filtered)
    (Option(lim1).map(_.toInt), Option(lim2).map(_.toInt)) match {
      case (Some(lo), Some(hi)) => sorted.offset(lo).limit(hi - lo)
      case (Some(n), None) if n >= 0 => sorted.limit(n)
      case (Some(n), None) => // negative: tail in forward order
        val oc = orderCols.getOrElse(
          throw new IllegalArgumentException("LIMIT -n requires ORDER BY"))
        val flipped = Option(order).get.split(",").toSeq.map(_.trim).map { c =>
          val up = c.toUpperCase
          if (up.endsWith(" DESC")) expr(c.dropRight(5)).asc
          else if (up.endsWith(" ASC")) expr(c.dropRight(4)).desc
          else expr(c).desc
        }
        sorted.sort(flipped: _*).limit(-n).sort(oc: _*)
      case _ => sorted
    }
  }

  /** Suffix slave columns clashing with master names with '1'
    * (reference duplicate-column convention).
    */
  private def clashRename(m: DataFrame, s: DataFrame, keys: Seq[String]): DataFrame =
    s.columns.filterNot(keys.contains).foldLeft(s) { (df, c) =>
      if (m.columns.contains(c)) df.withColumnRenamed(c, c + "1") else df
    }

  // ---- SAMPLE BY (no FILL/FROM-TO/ALIGN: pure SQL rewrite) ------------------

  private val SampleByRe =
    """(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.]+|\((?:[^()]|\([^()]*\)|\([^()]*\([^()]*\)[^()]*\))*\))(?:\s+WHERE\s+(.*?))?\s+SAMPLE\s+BY\s+(\d+)([UTsmhdwMy])\s*(?:ALIGN\s+TO\s+CALENDAR)?\s*(ORDER\s+BY\s+.*|LIMIT\s+.*)?$""".r

  /** Scan-based spelling of the SampleByRe pieces for FROM-subqueries
    * whose nesting defeats the regex: SELECT <sel> FROM <balanced rel>
    * [alias] [WHERE ...] SAMPLE BY n unit [ALIGN TO CALENDAR] [tail]. */
  private def sampleByPieces(q: String): Option[(String, String, String, String, String, String)] = {
    val m = """(?is)^SELECT\s+""".r.findFirstMatchIn(q).getOrElse(return None)
    val fromAt = topLevelIndexOf(q, Seq("from"))
    if (fromAt < 0) return None
    val sel = q.substring(m.end, fromAt).trim
    var i = fromAt + 4
    while (i < q.length && q.charAt(i).isWhitespace) i += 1
    if (i >= q.length || q.charAt(i) != '(') return None
    var depth = 0; var j = i
    while (j < q.length && (depth > 0 || j == i)) {
      q.charAt(j) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '\'' => var k2 = j + 1; while (k2 < q.length && q.charAt(k2) != '\'') k2 += 1; j = k2
        case _ =>
      }
      j += 1
    }
    val rel = q.substring(i, j)
    var rest = q.substring(j).trim
    // optional alias
    val aliasM = """(?is)^(?!WHERE\b|SAMPLE\b)([A-Za-z_]\w*)\s+""".r.findFirstMatchIn(rest)
    aliasM.foreach(am => rest = rest.substring(am.end - 1).trim)
    val sb = """(?is)^(?:WHERE\s+(.*?)\s+)?SAMPLE\s+BY\s+(\d+)([UTsmhdwMy])\s*(?:ALIGN\s+TO\s+CALENDAR)?\s*(ORDER\s+BY\s+.*|LIMIT\s+.*)?$""".r
    rest match {
      case sb(where, n, unit, tail) => Some((sel, rel, where, n, unit, tail))
      case _ => None
    }
  }

  /** Top-level split of the plain SAMPLE BY form — handles arbitrary
    * FROM contents (comma joins, backticked/quoted tables, deep
    * subqueries) that defeat the anchored regexes: SELECT <sel> FROM
    * <rel> [WHERE <w>] SAMPLE BY n unit [ALIGN TO CALENDAR] [tail]. */
  private def sampleBySplit(q: String): Option[(String, String, String, String, String, String)] = {
    val t = q.trim
    if (!t.toLowerCase.startsWith("select")) return None
    val sbPat = java.util.regex.Pattern.compile("(?is)\\bSAMPLE\\s+BY\\s+(\\d+)([UTsmhdwMy])\\b")
    // locate a top-level SAMPLE BY (outside parens/quotes)
    var depth = 0; var i = 0; var at = -1
    while (i < t.length && at < 0) {
      t.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '\'' => var k = i + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; i = k + 1
        case c if depth == 0 && (c == 's' || c == 'S') =>
          val m = sbPat.matcher(t); if (m.find(i) && m.start == i) at = i else i += 1
        case _ => i += 1
      }
    }
    if (at < 0) return None
    val m = sbPat.matcher(t); m.find(at)
    val (n, unit) = (m.group(1), m.group(2))
    var rest = t.substring(m.end).trim
    // the plain rewrite only covers the no-FILL / calendar-aligned form
    val alignCal = """(?is)^ALIGN\s+TO\s+CALENDAR(?![\s]+TIME|\s+WITH)\s*""".r
    rest = alignCal.replaceFirstIn(rest, "")
    val tail =
      if (rest.isEmpty) null
      else if ("""(?is)^(ORDER\s+BY|LIMIT)\b""".r.findFirstIn(rest).isDefined) rest
      else return None // FILL / FROM-TO / TZ forms: op lowering handles
    val head = t.substring(0, at)
    val fromAt = topLevelIndexOf(head, Seq("from"))
    if (fromAt < 0) return None
    val sel = head.substring(6, fromAt).trim
    val afterFrom = head.substring(fromAt + 4)
    val whereAt = topLevelIndexOf(afterFrom, Seq("where"))
    val (rel, where) =
      if (whereAt < 0) (afterFrom.trim, null)
      else (afterFrom.substring(0, whereAt).trim, afterFrom.substring(whereAt + 5).trim)
    if (rel.isEmpty || sel.isEmpty) return None
    Some((sel, rel, where, n, unit, tail))
  }

  private def rewriteSampleBy(cat: SessionCatalog, q0: String): String = (q0 match {
    case SampleByRe(sel, table, where, n, unit, tail) =>
      Some((sel, table, where, n, unit, tail))
    case other => sampleByPieces(other).orElse(sampleBySplit(other))
  }) match {
    case Some((sel, table, where, n, unit, tail)) =>
      // `sub.`a.b`` (quoted dotted alias, rel-qualified) — the lowering
      // re-derives FROM without the subquery alias, so drop the
      // qualifier; the backticked name then counts as a bare group key
      val items = splitSelect(sel).map(_.trim)
        .map(i => i.replaceAll("^(\\w+)\\.(?=`)", ""))
      // bare identifiers = group keys; the designated ts item becomes the bucket
      val isBare = (s: String) => s.matches("""[\w.]+""") || s.matches("`[^`]+`")
      val tsName = {
        def conventional = {
          val conv = Set("ts", "k", "timestamp", "time")
          items.map(_.trim).find(i => isBare(i) && conv(i.split('.').last.toLowerCase))
            .map(_.split('.').last)
        }
        def declaredInner = items.map(_.trim).find(i =>
          isBare(i) && innerDesignations.get.contains(i.split('.').last.toLowerCase))
          .map(_.split('.').last)
        if (table.startsWith("(")) conventional.orElse(declaredInner).getOrElse("ts")
        else {
          // first table token of the relation (strip backticks/quotes)
          val headTbl = """[`']?([\w.]+)""".r.findFirstMatchIn(table.trim)
            .map(_.group(1)).getOrElse("")
          cat.designatedTs(headTbl).orElse(conventional).getOrElse("ts")
        }
      }
      val tsItem = items.find(i => isBare(i) && (i == tsName || i.endsWith(s".$tsName")))
      // aliased spelling `a.ts AS time` — bucket on the qualified column,
      // emit under the alias
      val AliasedTs = """(?is)^([\w.]+)\s+AS\s+`?(\w+)`?$""".r
      val tsAliased = if (tsItem.isDefined) None else items.collectFirst {
        case it @ AliasedTs(base, alias)
            if base == tsName || base.endsWith(s".$tsName") => (it, base, alias)
      }
      // group keys: every non-aggregate item (reference auto-grouping) —
      // bare columns, aliased columns (`c alias` / `c AS alias`) and
      // constants; (groupExpr, outputName) pairs
      val keyPairs: Seq[(String, String)] = items.flatMap {
        case i if tsItem.contains(i) || tsAliased.exists(_._1 == i) => None
        case i if i.startsWith("`") && isBare(i) => Some((i, i))
        case i if isBare(i) => Some((i, i.split('.').last))
        case i if sqlAggFnRe.findFirstIn(i).isEmpty && !i.contains("(") =>
          """(?is)^(.+?)\s+(?:AS\s+)?`?(\w+)`?$""".r.findFirstMatchIn(i.trim)
            .map(m => (m.group(1).trim, m.group(2)))
        case _ => None
      }
      val keys = keyPairs.map(_._1)
      val tsExpr0 = tsItem.orElse(tsAliased.map(_._2)).getOrElse(tsName)
      // a TIMESTAMP_NS key rides as BIGINT nanos — bucket on the µs view
      // (runtime type dispatch; folds away in codegen for ts columns)
      val tsExpr = s"IF(typeof($tsExpr0) IN ('bigint', 'int'), " +
        s"timestamp_micros(CAST($tsExpr0 AS BIGINT) div 1000), CAST($tsExpr0 AS TIMESTAMP))"
      // calendar units (month/year) have no fixed duration → date_trunc;
      // everything else keeps the window() group (codegen'd bucketing)
      val (bucketOut, bucketGroup) = unit match {
        case "M" | "y" =>
          val f =
            if (n == "1")
              s"date_trunc('${if (unit == "M") "month" else "year"}', $tsExpr)"
            else {
              // multi-month/year strides: floor months-since-epoch to the
              // stride grid (reference MonthTimestampSampler with stride)
              val nm = (if (unit == "M") 1 else 12) * n.toInt
              val months = s"((year($tsExpr) - 1970) * 12 + month($tsExpr) - 1)"
              val fl = s"(CAST(floor($months / $nm) AS INT) * $nm)"
              s"make_timestamp(1970 + CAST(floor($fl / 12) AS INT), ($fl % 12) + 1, 1, 0, 0, 0)"
            }
          (f, f)
        case "w" =>
          // weeks anchor at Monday: epoch Thu 1970-01-01 + 4 days
          // (reference WeekTimestampSampler)
          ("window.start",
            s"window($tsExpr, '${strideOf(n, unit)}', '${strideOf(n, unit)}', '4 days')")
        case _ =>
          ("window.start", s"window($tsExpr, '${strideOf(n, unit)}')")
      }
      val outItems = items.map {
        case i if tsItem.contains(i) => s"$bucketOut AS ${i.split('.').last}"
        case i if tsAliased.exists(_._1 == i) => s"$bucketOut AS ${tsAliased.get._3}"
        case i => i
      }
      val whereSql = Option(where).map(w => s" WHERE $w").getOrElse("")
      val groupKeys = (bucketGroup +: keys).mkString(", ")
      val tailSql = Option(tail).map(" " + _).getOrElse("")
      val lowered =
        s"SELECT ${outItems.mkString(", ")} FROM $table$whereSql GROUP BY $groupKeys$tailSql"
      if (tail != null) lowered
      else {
        // no explicit ORDER BY: the reference cursor streams buckets in
        // time order, keys per bucket in global first-appearance order
        // (scan order of a ts-ordered table) — emit ts, then per-key
        // earliest bucket via a window over the aggregated rows
        val tsOutName = tsItem.map(_.split('.').last)
          .orElse(tsAliased.map(_._3)).getOrElse(tsName)
        def outName(i: String): String = {
          val a = """(?is)^.*\s+AS\s+`?(\w+)`?\s*$""".r.findFirstMatchIn(i)
          a.map(_.group(1)).getOrElse {
            val t = i.trim
            // implicit alias (`col alias`, `'lit' alias`, `agg(x) alias`)
            if (t.matches("""(?s)[\w.']+\s+\w+""") ||
                t.matches("""(?s).*\)\s+\w+""")) t.split("\\s+").last
            else t.split('.').last.trim
          }
        }
        val names = items.map {
          case i if tsItem.contains(i) => tsOutName
          case i if tsAliased.exists(_._1 == i) => tsAliased.get._3
          case i => outName(i)
        }
        if (keys.isEmpty) s"$lowered ORDER BY ${quoteIdent(tsOutName)}"
        else {
          val keyNames = keyPairs.map(p => quoteIdent(p._2))
          // partition by the GROUP EXPRESSIONS — the output aliases are
          // lateral in this select and Spark rejects them in windows
          val keyExprs = keyPairs.map(_._1)
          val inner = s"SELECT ${outItems.mkString(", ")}, " +
            s"MIN(MIN($tsExpr)) OVER (PARTITION BY ${keyExprs.mkString(", ")}) AS __graft_fs " +
            s"FROM $table$whereSql GROUP BY $groupKeys"
          s"SELECT ${names.map(quoteIdent).mkString(", ")} FROM ($inner) " +
            s"ORDER BY ${quoteIdent(tsOutName)}, __graft_fs, ${keyNames.mkString(", ")}"
        }
      }
    case _ => q0
  }

  private def quoteIdent(n: String): String =
    if (n.matches("\\w+")) s"`$n`" else n

  /** Aggregate-call detector for SAMPLE BY select-item classification
    * (reference: any select item without an aggregate is a group key). */
  private val sqlAggFnRe = ("(?i)\\b(sum|count|avg|min|max|first|last|first_value|" +
    "last_value|min_by|max_by|ksum|nsum|vwap|twap|wavg|weighted_avg|weighted_stddev|" +
    "stddev|stddev_samp|stddev_pop|variance|var_pop|var_samp|corr|covar_pop|covar_samp|" +
    "count_distinct|approx_count_distinct|approx_percentile|hdr_approx_percentile|mode|" +
    "haversine_dist|string_distinct_agg|array_agg|collect_list|collect_set|array_cum_sum|" +
    "skewness|kurtosis|regr_slope|regr_intercept|regr_r2|l2price|mid|spread_bps|" +
    "wmid|vwab|isordered|bool_and|bool_or|every|some_agg|any_value|sparkline|" +
    "long256_bin_sum)\\s*\\(").r

  /** Declared array rank of a bare column reference, looked up in the
    * declared-column registry of tables the statement references (the
    * same scoping as rewriteAvgScale). None for expressions, unknown
    * columns, or non-array declarations. */
  private def declaredArrayDims(cat: SessionCatalog, q: String, col0: String): Option[Int] = {
    val c = col0.trim
    if (!c.matches("[\\w.]+")) return None
    val name = c.split('.').last.toLowerCase
    val qLower = q.toLowerCase
    cat.declared.collectFirst {
      case (tbl, cols) if qLower.contains(tbl) && cols.contains(name) &&
          cols(name).tpe.endsWith("[]") =>
        cols(name).tpe.sliding(2).count(_ == "[]")
    }
  }

  /** Apply `f` to each top-level set-operation operand of `q` (or to all
    * of `q` when it holds no set op), preserving the operator spellings. */
  private def mapSetOperands(q: String)(f: String => String): String = {
    var at = topLevelIndexOf(q, Seq("union", "intersect", "except"))
    if (at < 0) return f(q)
    val opPat = "(?is)^(union\\s+all|union|intersect\\s+all|intersect|except\\s+all|except)\\b".r
    val sb = new StringBuilder
    var rest = q
    while (at >= 0) {
      sb.append(f(rest.substring(0, at)))
      val m = opPat.findFirstMatchIn(rest.substring(at)).get
      sb.append(' ').append(m.group(1)).append(' ')
      rest = rest.substring(at + m.end)
      at = topLevelIndexOf(rest, Seq("union", "intersect", "except"))
    }
    sb.append(f(rest))
    sb.toString
  }

  /** Apply the plain SAMPLE BY → GROUP BY lowering to parenthesized
    * subqueries too (reference allows SAMPLE BY at any nesting —
    * `select * from (select ... sample by 1m)`). */
  private def rewriteNestedSampleBy(cat: SessionCatalog, q: String): String = {
    if (!"""(?i)\b(SAMPLE\s+BY|LATEST\s+(?:ON|BY))\b|LIMIT\s+-\d|LIMIT\s+\d+\s*,""".r
        .findFirstIn(q).isDefined) return q
    val sb = new StringBuilder
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') {
        var j = i + 1
        while (j < q.length && q.charAt(j) != '\'') j += 1
        sb.append(q.substring(i, math.min(j + 1, q.length))); i = j + 1
      } else if (c == '(') {
        // find the balancing close
        var depth = 1
        var j = i + 1
        while (j < q.length && depth > 0) {
          q.charAt(j) match {
            case '\'' => var k = j + 1; while (k < q.length && q.charAt(k) != '\'') k += 1; j = k + 1
            case '(' => depth += 1; j += 1
            case ')' => depth -= 1; j += 1
            case _ => j += 1
          }
        }
        val inner = q.substring(i + 1, math.max(i + 1, j - 1))
        if (inner.trim.toLowerCase.startsWith("select") &&
            """(?i)\b(SAMPLE\s+BY|LATEST\s+(?:ON|BY))\b|LIMIT\s+-\d|LIMIT\s+\d+\s*,"""
              .r.findFirstIn(inner).isDefined) {
          // a set operation over dialect-op operands cannot be lowered
          // textually (each operand's row order must survive the union;
          // a trailing ORDER BY would bind to the whole result) — leave
          // the region for per-operand view materialization
          if (topLevelIndexOf(inner, Seq("union", "intersect", "except")) >= 0 &&
              SetOpDialectOpRe.findFirstIn(inner).isDefined) {
            sb.append('(').append(inner).append(')')
          } else {
            // LATEST ON first (its result may still hold a SAMPLE BY
            // tail); a set operation in the region rewrites per-operand
            // — the whole-query regexes would mis-anchor across the UNION
            val step = mapSetOperands(inner.trim)(op => rewriteRangeLimit(rewriteNegativeLimit(cat,
              rewriteSampleBy(cat, rewriteLatestOn(rewriteLatestByDeprecated(cat, op.trim))))))
            val rewritten =
              if (step == inner.trim) rewriteNestedSampleBy(cat, inner)
              else rewriteNestedSampleBy(cat, step)
            sb.append('(').append(rewritten).append(')')
          }
        } else sb.append(q.substring(i, j))
        i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ---- SAMPLE BY with FROM/TO, FILL lists, ALIGN: delegates to ops ----------

  private val SampleByFullRe = (
    """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel +
      """(?:\s+WHERE\s+(.*?))?\s+SAMPLE\s+BY\s+(\d+)([UTsmhdwMy])""" +
      """(?:\s+FROM\s+'([^']+)')?(?:\s+TO\s+'([^']+)')?""" +
      """(?:\s+FILL\s*\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\))?""" +
      """(?:\s+ALIGN\s+TO\s+(CALENDAR|FIRST\s+OBSERVATION)(?:\s+TIME\s+ZONE\s+'([^']+)')?(?:\s+WITH\s+OFFSET\s+'([^']+)')?)?""" +
      """\s*(?:ORDER\s+BY\s+([\w.,\s]+?))?(?:\s+LIMIT\s+(-?\d+)(?:\s*,\s*(-?\d+))?)?\s*$""").r

  private def parsePoint(lit: String): java.sql.Timestamp = {
    val (lo, _) = basePrecision(lit.trim)
    java.sql.Timestamp.valueOf(lo)
  }

  private def offsetInterval(spec: String): String = {
    val m = """(-?)(\d{2}):(\d{2})""".r.findFirstMatchIn(spec.trim)
      .getOrElse(throw new IllegalArgumentException(s"bad OFFSET '$spec'"))
    val sign = if (m.group(1) == "-") "-" else ""
    s"$sign${m.group(2).toInt} hours $sign${m.group(3).toInt} minutes"
  }

  /** Scan-based spelling of [[SampleByFullRe]] for FROM-subqueries whose
    * macro-expanded nesting defeats the anchored regex (ns-cast unions,
    * SampleByNanoTimestampTest:3090): locate the top-level SAMPLE BY,
    * split head into sel/rel/where, parse the option tail anchored. */
  private val SampleByTailRe = (
    """(?is)^(?:FROM\s+'([^']+)'\s*)?(?:TO\s+'([^']+)'\s*)?""" +
      """(?:FILL\s*\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)\s*)?""" +
      """(?:ALIGN\s+TO\s+(CALENDAR|FIRST\s+OBSERVATION)(?:\s+TIME\s+ZONE\s+'([^']+)')?(?:\s+WITH\s+OFFSET\s+'([^']+)')?\s*)?""" +
      """(?:ORDER\s+BY\s+([\w.,\s]+?)\s*)?(?:LIMIT\s+(-?\d+)(?:\s*,\s*(-?\d+))?)?\s*$""").r

  private def sampleByFullSplit(q: String): Option[(String, String, String, String, String,
      String, String, String, String, String, String, String, String, String)] = {
    val t = q.trim
    if (!t.toLowerCase.startsWith("select")) return None
    val sbPat = java.util.regex.Pattern.compile("(?is)\\bSAMPLE\\s+BY\\s+(\\d+)([UTsmhdwMy])\\b")
    var depth = 0; var i = 0; var at = -1
    while (i < t.length && at < 0) {
      t.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '\'' => var k = i + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; i = k + 1
        case c if depth == 0 && (c == 's' || c == 'S') =>
          val m = sbPat.matcher(t); if (m.find(i) && m.start == i) at = i else i += 1
        case _ => i += 1
      }
    }
    if (at < 0) return None
    val m = sbPat.matcher(t); m.find(at)
    val (n, unit) = (m.group(1), m.group(2))
    val rest = t.substring(m.end).trim
    val tm = SampleByTailRe.findFirstMatchIn(rest).getOrElse(return None)
    val head = t.substring(0, at)
    val fromAt = topLevelIndexOf(head, Seq("from"))
    if (fromAt < 0) return None
    val sel = head.substring(6, fromAt).trim
    val afterFrom = head.substring(fromAt + 4)
    val whereAt = topLevelIndexOf(afterFrom, Seq("where"))
    val (rel, where) =
      if (whereAt < 0) (afterFrom.trim, null)
      else (afterFrom.substring(0, whereAt).trim, afterFrom.substring(whereAt + 5).trim)
    if (rel.isEmpty || sel.isEmpty) return None
    Some((sel, rel, where, n, unit, tm.group(1), tm.group(2), tm.group(3),
      tm.group(4), tm.group(5), tm.group(6), tm.group(7), tm.group(8), tm.group(9)))
  }

  private def sampleByOpForm(spark: SparkSession, q: String): Option[DataFrame] = (q match {
    case SampleByFullRe(sel, rel, where, n, unit, fromLit, toLit, fillSpec,
                        alignKind, tzLit, offsetLit, order, lim1, lim2)
        if fillSpec != null || fromLit != null || alignKind != null ||
          order == null =>
      Some((sel, rel, where, n, unit, fromLit, toLit, fillSpec,
        alignKind, tzLit, offsetLit, order, lim1, lim2))
    case other =>
      sampleByFullSplit(other).filter { p =>
        // same guard as the regex case, and only shapes the plain
        // rewrite (rewriteSampleBy) declines — those with option tails;
        // the relation must be a single balanced subquery or bare name
        // (the shapes SampleByFullRe means, just nested deeper)
        val rel = p._2.trim
        val relOk = rel.matches("""[\w.]+|`[^`]+`""") ||
          (rel.startsWith("(") && rel.endsWith(")"))
        relOk && (p._8 != null || p._6 != null || p._9 != null)
      }
  }) match {
    case Some((sel, rel, where, n, unit, fromLit, toLit, fillSpec,
               alignKind, tzLit, offsetLit, order, lim1, lim2)) =>
      val (base1a, relName) = resolveRel(spark, rel)
      val tsName = tsOfRel(relName, base1a)
      // quoted dotted aliases (`sub."a.b"` → sub.`a.b`): drop the rel
      // qualifier, then ride the name through the __ux mangling (Spark
      // column paths would split on the dot; RefText demangles on print)
      var base1 = base1a
      val QuotedQual = """(?s)^\s*\w+\.(`[^`]+`)\s*$""".r
      val items = splitSelect(sel).map(normalizeAliasSpelling).map {
        case QuotedQual(qn) => qn
        case other => other
      }.map { i =>
        "^`([^`]+)`$".r.findFirstMatchIn(i.trim) match {
          case Some(mm) if !mm.group(1).matches("\\w+") =>
            val mangled = "__ux" + mm.group(1).getBytes("UTF-8")
              .map(b => f"${b & 0xff}%02x").mkString
            if (base1.columns.contains(mm.group(1)))
              base1 = base1.withColumnRenamed(mm.group(1), mangled)
            mangled
          case Some(mm) => mm.group(1)
          case None => i
        }
      }
      val isBare = (s: String) => s.matches("""[\w.]+""")
      val tsItem = items.find(i => isBare(i) && (i == tsName || i.endsWith(s".$tsName")))
      val AggAs = """(?is)^(.*?)\s+AS\s+`?(\w+)`?\s*$""".r
      // `ts AS time` designates the bucket under an alias, not a key
      val AliasedTsOp = """(?is)^([\w.]+)\s+AS\s+`?(\w+)`?$""".r
      val tsAliasedOp = if (tsItem.isDefined) None else items.collectFirst {
        case it @ AliasedTsOp(b, alias) if b == tsName || b.endsWith(s".$tsName") =>
          (it, b, alias)
      }
      // non-aggregate expression items are GROUP KEYS in the reference
      // (SampleByFillPrevTest `x::STRING k`, `concat(a, b) k`, aliased
      // symbols) — pre-project them so the op path sees bare key columns
      def hasAggCall(e: String) = sqlAggFnRe.findFirstIn(e).isDefined
      val exprKeys = items.filterNot(i => isBare(i) || tsItem.contains(i) ||
          tsAliasedOp.exists(_._1 == i))
        .filterNot(hasAggCall).map {
          case it @ AggAs(e, name) => (it, e, name)
          case it => (it, it, it.replaceAll("\\W", "_"))
        }
      // a key alias reusing the designated timestamp's name (`sym
      // timestamp`, SqlCodeGeneratorTest:7417) must not overwrite the
      // bucket source before bucketing — key under a sentinel, restore
      // the user name in the final projection
      val keyName = (n: String) =>
        if (n.equalsIgnoreCase(tsName)) s"__graft_k_$n" else n
      val base0 = exprKeys.foldLeft(base1) { case (d, (_, e, name)) =>
        d.withColumn(keyName(name), expr(e)) // dialect passes already ran on q
      }
      val keys = items.filter(i => isBare(i) && !tsItem.contains(i)).map(_.split('.').last) ++
        exprKeys.map(k => keyName(k._3))
      val aggs = items.filterNot(i => isBare(i) || exprKeys.exists(_._1 == i) ||
          tsAliasedOp.exists(_._1 == i)).map {
        case AggAs(e, name) => name -> expr(e)
        case e => e.replaceAll("\\W", "_") -> expr(e)
      }
      val stride = strideOf(n, unit)
      val strideMonths = unit match {
        case "M" => Some(n.toInt); case "y" => Some(n.toInt * 12); case _ => None
      }
      val strideUs = if (strideMonths.isDefined) 0L else n.toLong * unitMicros(unit)

      def fillOf(tok: String, name: String): graft.ops.SampleBy.Fill = tok.trim.toUpperCase match {
        case "NONE" => graft.ops.SampleBy.NoFill
        case "NULL" => graft.ops.SampleBy.FillNull
        case "PREV" => graft.ops.SampleBy.FillPrev
        case "LINEAR" => graft.ops.SampleBy.FillLinear
        case v =>
          // constant fill: plain numeric, else fold a constant SQL
          // expression (`cast('42' as DECIMAL(19,0))`, reference
          // compile-time fill value resolution)
          val value: Any =
            try v.toDouble
            catch {
              case _: NumberFormatException =>
                spark.sql(s"SELECT ${tok.trim}").collect()(0).get(0)
            }
          graft.ops.SampleBy.FillConst(Map(name -> value))
      }
      val fill = Option(fillSpec).map(_.trim).filter(_.nonEmpty) match {
        case None => graft.ops.SampleBy.NoFill
        case Some(spec) =>
          // `PREV(v1)` targets the aggregate aliased v1 (reference named
          // FILL entries); positional entries keep their slot
          val toks0 = splitSelect(spec).map(_.trim)
          // entries are positional; `PREV(src)` pulls the previous value
          // of ANOTHER column into the gap slot (reference cross-column
          // fill dispatch, FillRecordDispatchTest)
          def fillOf2(tok: String, name: String): graft.ops.SampleBy.Fill =
            """(?i)^PREV\s*\(\s*(\w+)\s*\)$""".r.findFirstMatchIn(tok.trim) match {
              case Some(m2) => graft.ops.SampleBy.FillPrevOf(m2.group(1))
              case None => fillOf(tok, name)
            }
          if (toks0.size == 1) fillOf2(toks0.head, aggs.head._1) match {
            // a single constant still applies to every aggregate (reuse
            // the evaluated value — it may be a string or decimal)
            case graft.ops.SampleBy.FillConst(m0) =>
              val v = m0.values.head
              graft.ops.SampleBy.FillConst(aggs.map(_._1 -> v).toMap)
            case f => f
          }
          else graft.ops.SampleBy.FillPerColumn(
            toks0.zip(aggs.map(_._1)).map { case (t, nm) => fillOf2(t, nm) })
      }

      val whered = Option(where).map(base0.where).getOrElse(base0)
      // FROM/TO (reference: inclusive FROM, exclusive TO) bound both the
      // data and the fill spine; each side is optional independently.
      // With a TIME ZONE the literals are local wall-clock — the data
      // filter needs their UTC instants, while the grid anchor keeps the
      // local values.
      val fromP = Option(fromLit).map(parsePoint)
      val toP = Option(toLit).map(parsePoint)
      def filterBound(t: java.sql.Timestamp): java.sql.Timestamp = Option(tzLit).map(normTz) match {
        case Some(z) => graft.ops.SampleBy.localToUtc(t, z)
        case None => t
      }
      val ranged = (fromP.map(filterBound), toP.map(filterBound)) match {
        case (Some(f), Some(t)) => whered.where(col(tsName) >= lit(f) && col(tsName) < lit(t))
        case (Some(f), None) => whered.where(col(tsName) >= lit(f))
        case (None, Some(t)) => whered.where(col(tsName) < lit(t))
        case _ => whered
      }
      // weeks anchor at Monday — except under TIME ZONE *with* OFFSET,
      // where the reference's offset sampler keeps the epoch (Thursday)
      // grid (SampleByFillNullValueTest 1w TZ Berlin OFFSET '06:00' →
      // Thursday buckets; the no-offset tz week stays Monday)
      val weekShiftUs0 =
        if (unit == "w" && !(tzLit != null && offsetLit != null)) 4L * 86400000000L else 0L
      def offsetShiftUs(off: String): Long = {
        val m2 = """(-?)(\d{2}):(\d{2})""".r.findFirstMatchIn(off.trim).get
        (m2.group(2).toLong * 3600 + m2.group(3).toLong * 60) * 1000000L *
          (if (m2.group(1) == "-") -1 else 1)
      }
      def tsOfUs(us: Long) = java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L))
      // WITH OFFSET + FROM ⇒ the grid anchors at FROM+offset (reference
      // SampleByTest: 27m FROM '2021-03-01' OFFSET '+00:15' buckets at
      // 00:15, 00:42, … — and 10s FROM '…23:59:55' OFFSET '00:05'
      // buckets at :55/:05, both = FROM+offset grids) and FROM only
      // clips: ceil FROM up to the grid for every anchoring use
      def dayGridAnchorUs(f: java.sql.Timestamp): Long =
        f.getTime * 1000L + offsetShiftUs(offsetLit)
      def ceilToGrid(f: java.sql.Timestamp): java.sql.Timestamp =
        if (strideMonths.isDefined || offsetLit == null) f
        else {
          val fromUs0 = f.getTime * 1000L
          val aUs = dayGridAnchorUs(f)
          val rem = (((aUs - fromUs0) % strideUs) + strideUs) % strideUs
          tsOfUs(fromUs0 + rem)
        }
      // explicit day-anchored grid + first-bucket clamp for the op layer
      val (gridAnchorOpt, clampOpt): (Option[Long], Option[Long]) =
        (fromP, Option(offsetLit)) match {
          case (Some(f), Some(_)) if strideMonths.isEmpty =>
            (Some(dayGridAnchorUs(f)),
              Some(ceilToGrid(f).getTime * 1000L))
          case _ => (None, None)
        }
      val range = (fromP, toP) match {
        case (Some(from), Some(to)) =>
          strideMonths match {
            case Some(sm) =>
              // last bucket strictly before the exclusive TO bound — on
              // the FROM-anchored month grid (buckets carry FROM's
              // day-of-month and time-of-day)
              val f = from.toLocalDateTime; val t = to.toLocalDateTime.minusNanos(1000)
              var md = (t.getYear * 12 + t.getMonthValue) -
                (f.getYear * 12 + f.getMonthValue)
              if (md > 0 && f.plusMonths(md).isAfter(t)) md -= 1
              Some((from, java.sql.Timestamp.valueOf(
                f.plusMonths(math.max(md, 0).toLong / sm * sm))))
            case None =>
              // an explicit WITH OFFSET anchors the grid (calendar +
              // offset, SampleByFillNullValueTest:697) and FROM only
              // clips — ceil FROM to the grid; without it FROM is the
              // anchor
              val fromUs0 = from.getTime * 1000L
              val toUs = to.getTime * 1000L
              val anchorUs = Option(offsetLit) match {
                case Some(_) => dayGridAnchorUs(from)
                case None => fromUs0
              }
              val rem = (((anchorUs - fromUs0) % strideUs) + strideUs) % strideUs
              // under TZ *with* OFFSET the spine anchors at
              // floor-to-day(FROM) + offset exactly — one bucket before
              // FROM for negative offsets, after it for positive ones
              // (SampleByFillNullValueTest 1d '-00:30' → the 23:30
              // bucket, '06:00' → the 06:00 bucket; SampleByFillTest 1h
              // '00:30' → the 00:30 bucket). A no-tz OFFSET anchors the
              // sampler at FROM + offset (reference
              // setLocalAnchor(fromTs + calendarOffset),
              // SampleByFillRecordCursorFactory): with DATA, emission
              // starts at the anchored-grid bucket CONTAINING FROM — one
              // below FROM when the offset remainder is non-zero (the
              // PR-6946 fix, testFillFromNegativeOffsetAtFromBoundary
              // '-00:30' → 04:30; '-01:00' rem 0 stays at FROM); on an
              // EMPTY base the hasNext loop fills from the raw anchor
              // itself (testFill…EmptyBase OFFSET '05:00' → 05:00 first).
              // Without OFFSET, FROM is the anchor.
              val fromGridUs =
                if (tzLit != null && offsetLit != null)
                  Math.floorDiv(fromUs0, 86400000000L) * 86400000000L +
                    offsetShiftUs(offsetLit)
                else if (offsetLit != null)
                  // SIGNED stride remainder: '-00:30'/1h starts one
                  // half-bucket BELOW FROM (PR-6946), '+02:00'/1d two
                  // hours above, '-01:00'/1h exactly at FROM
                  fromUs0 + offsetShiftUs(offsetLit) % strideUs
                else fromUs0 + rem
              // floorDiv keeps an empty [from, to) range empty — with
              // truncating division FROM x TO x yielded one bucket
              // (reference: TO is exclusive, SampleByFillTest)
              val lastBucketUs = fromGridUs +
                Math.floorDiv(toUs - 1 - fromGridUs, strideUs) * strideUs
              Some((tsOfUs(fromGridUs), tsOfUs(lastBucketUs)))
          }
        case _ => None // a single open bound narrows the data only
      }

      val tsOut0 = tsItem.map(_.split('.').last)
        .orElse(tsAliasedOp.map(_._3)).getOrElse(tsName)
      // when the designated timestamp is NOT selected but a select-list
      // alias reuses its name (`max(ts) ts`, SqlCodeGeneratorTest:5080),
      // keep the internal bucket column under a sentinel so the
      // aggregate's alias survives; the final projection drops the bucket
      val tsOut = if (tsItem.isEmpty && tsAliasedOp.isEmpty &&
          (aggs.exists(_._1 == tsOut0) || keys.contains(tsOut0)))
        "__graft_bucket" else tsOut0
      val out = Option(alignKind).map(_.toUpperCase.replaceAll("\\s+", " ")) match {
        case Some("FIRST OBSERVATION") =>
          val hasFillFO = fill match {
            case graft.ops.SampleBy.NoFill => false
            case graft.ops.SampleBy.FillPerColumn(fs) =>
              fs.exists(_ != graft.ops.SampleBy.NoFill)
            case _ => true
          }
          if (!hasFillFO || strideMonths.isDefined || strideUs <= 0L)
            graft.ops.SampleBy.sampleByFirstObs(ranged, tsName, strideUs, keys, aggs, tsOut)
          else {
            // FILL over a first-observation grid: anchor the normal
            // fill machinery at the GLOBAL first observation (reference
            // SampleByTest sample by 5m fill(linear) align to first
            // observation — spine steps firstObs + k·stride up to the
            // last data bucket). Two scalar aggregates bound the spine;
            // the spine itself stays distributed.
            val mm = ranged.agg(min(col(tsName)), max(col(tsName))).head()
            if (mm.isNullAt(0))
              graft.ops.SampleBy.sampleByFirstObs(ranged, tsName, strideUs, keys, aggs, tsOut)
            else {
              val aTs = mm.getTimestamp(0); val bTs = mm.getTimestamp(1)
              val aUs = aTs.getTime * 1000L + aTs.getNanos / 1000 % 1000
              val bUs = bTs.getTime * 1000L + bTs.getNanos / 1000 % 1000
              val lastUs = aUs + Math.floorDiv(bUs - aUs, strideUs) * strideUs
              graft.ops.SampleBy.sampleBy(ranged, tsName, stride, keys, aggs, fill,
                range = Some((tsOfUs(aUs), tsOfUs(lastUs))),
                tsOut = tsOut, unit = Some(unit.head),
                gridAnchorUs = Some(aUs))
            }
          }
        case _ =>
          // the grid anchor: an explicit FROM wins (buckets start AT the
          // FROM point — SampleByTest FROM/TO + OFFSET); otherwise the
          // WITH OFFSET shift reduced into the stride (Spark's window()
          // requires |start| < slide)
          // weeks anchor at Monday (epoch Thu 1970-01-01 + 4 days —
          // reference WeekTimestampSampler), composed with WITH OFFSET;
          // an explicit FROM supersedes both (grid anchored AT the
          // FROM point)
          val offsetEff: String =
            if (strideMonths.isEmpty) {
              // WITH OFFSET anchors even when FROM is present (FROM then
              // only clips — see the range computation above)
              val baseUs = (fromP, Option(offsetLit)) match {
                case (_, Some(off)) =>
                  (((offsetShiftUs(off) + weekShiftUs0) % strideUs) + strideUs) % strideUs
                case (Some(f), None) => ((f.getTime * 1000L % strideUs) + strideUs) % strideUs
                case _ => weekShiftUs0 % strideUs
              }
              s"$baseUs microseconds"
            } else Option(offsetLit)
              .map(off => s"${offsetShiftUs(off) + weekShiftUs0} microseconds")
              .getOrElse("0 seconds")
          // FROM/TO extend the bucket spine only when a FILL is present;
          // without FILL they filter + anchor (SampleByTest FROM '...'
          // WITH OFFSET — data rows only, no fabricated null buckets)
          val hasFill = fill match {
            case graft.ops.SampleBy.NoFill => false
            case graft.ops.SampleBy.FillPerColumn(fs) =>
              fs.exists(_ != graft.ops.SampleBy.NoFill)
            case _ => true
          }
          // the FILLed spine starts at the FROM+offset-anchored bucket
          // containing FROM (reference setLocalAnchor; see the range
          // computation above); only the no-FILL data pass absorbs
          // pre-grid rows upward (ceil)
          def fillGridStart(f: java.sql.Timestamp): java.sql.Timestamp =
            if (offsetLit == null || strideMonths.isDefined) f
            else tsOfUs(f.getTime * 1000L + offsetShiftUs(offsetLit) % strideUs)
          graft.ops.SampleBy.sampleBy(ranged, tsName, stride, keys, aggs, fill,
            range = if (hasFill) range else None,
            offset = offsetEff,
            tz = Option(tzLit).map(normTz),
            tsOut = tsOut,
            rangeLo = if (hasFill && range.isEmpty) fromP.map(fillGridStart) else None,
            rangeHi = if (hasFill && range.isEmpty) toP.map(t => new java.sql.Timestamp(t.getTime - 1)) else None,
            unit = Some(unit.head),
            anchor = fromP.map(ceilToGrid),
            gridAnchorUs = if (tzLit == null) gridAnchorOpt else None,
            clampUs =
              if (tzLit != null) None
              else if (hasFill) fromP.map(f => fillGridStart(f).getTime * 1000L)
              else clampOpt)
      }
      // project in select-list order
      val outNames = items.map {
        case i if tsItem.contains(i) => tsOut
        case i if tsAliasedOp.exists(_._1 == i) => tsOut
        case i if isBare(i) => i.split('.').last
        case i => i match { case AggAs(_, name) => name; case e => e.replaceAll("\\W", "_") }
      }
      val outCols = items.zip(outNames).map {
        case (i, n) if exprKeys.exists(_._1 == i) && keyName(n) != n =>
          col(keyName(n)).as(n)
        case (_, n) => col(n)
      }
      val projected = out.select(outCols: _*)
      val ordered = Option(order).map(o => applyWhereTail(projected, null, o, null, null)).getOrElse(projected)
      Some((Option(lim1).map(_.toLong), Option(lim2).map(_.toLong)) match {
        case (Some(l), None) if l >= 0 => ordered.limit(l.toInt)
        case (Some(lo), Some(hi)) if lo >= 0 && hi >= lo =>
          ordered.offset(lo.toInt).limit((hi - lo).toInt)
        case (Some(l), None) => // negative: the result's tail in bucket order
          val tailKey = if (outNames.contains(tsOut)) tsOut else outNames.head
          graft.ops.Limits.tail(ordered, (-l).toInt, Seq(col(tailKey)))
        case _ => ordered
      })
    case _ => sampleByOpMultiRel(spark, q)
  }

  /** Op-form SAMPLE BY over a multi-relation FROM (comma joins, JOIN
    * chains): project the qualified columns the select list needs into a
    * derived table with unqualified names, then re-enter the single-rel
    * op form. */
  private def sampleByOpMultiRel(spark: SparkSession, q: String): Option[DataFrame] = {
    val t = q.trim
    if (!t.toLowerCase.startsWith("select")) return None
    val sbPat = java.util.regex.Pattern.compile("(?is)\\bSAMPLE\\s+BY\\s+(\\d+)([UTsmhdwMy])\\b")
    // top-level SAMPLE BY with op-form markers after it
    var depth = 0; var i = 0; var at = -1
    while (i < t.length && at < 0) {
      t.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '\'' => var k = i + 1; while (k < t.length && t.charAt(k) != '\'') k += 1; i = k + 1
        case c if depth == 0 && (c == 's' || c == 'S') =>
          val m = sbPat.matcher(t); if (m.find(i) && m.start == i) at = i else i += 1
        case _ => i += 1
      }
    }
    if (at < 0) return None
    val rest = t.substring(at)
    if (!"""(?is)\b(FILL|ALIGN|FROM\s+'|TO\s+')""".r.findFirstIn(rest).isDefined) return None
    val head = t.substring(0, at)
    val fromAt = topLevelIndexOf(head, Seq("from"))
    if (fromAt < 0) return None
    val sel = head.substring(6, fromAt).trim
    val afterFrom = head.substring(fromAt + 4)
    val whereAt = topLevelIndexOf(afterFrom, Seq("where"))
    val (rel, where) =
      if (whereAt < 0) (afterFrom.trim, None)
      else (afterFrom.substring(0, whereAt).trim, Some(afterFrom.substring(whereAt + 5).trim))
    // only engage for genuinely multi-relation FROMs the anchored regex
    // can't parse
    val multi = topLevelIndexOf(rel, Seq("join")) >= 0 || {
      var d = 0; var j = 0; var comma = false
      while (j < rel.length) {
        rel.charAt(j) match {
          case '(' => d += 1
          case ')' => d -= 1
          case ',' if d == 0 => comma = true
          case _ =>
        }
        j += 1
      }
      comma
    }
    if (!multi) return None
    // qualified refs the outer select needs
    val refs = """\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b""".r.findAllMatchIn(sel)
      .map(m => (m.group(1), m.group(2))).toSeq.distinct
    if (refs.isEmpty) return None
    val counts = refs.groupBy(_._2).view.mapValues(_.size).toMap
    def outName(t0: String, c: String) = if (counts(c) > 1) s"${t0}_$c" else c
    val proj = refs.map { case (t0, c) => s"$t0.$c AS ${outName(t0, c)}" }.mkString(", ")
    var sel2 = sel
    refs.foreach { case (t0, c) =>
      sel2 = sel2.replaceAll(
        s"\\b${java.util.regex.Pattern.quote(t0)}\\.${java.util.regex.Pattern.quote(c)}\\b",
        outName(t0, c))
    }
    val inner = s"SELECT $proj FROM $rel" + where.map(w => s" WHERE $w").getOrElse("")
    val rewritten = s"SELECT $sel2 FROM ($inner) $rest"
    rewritten match {
      case SampleByFullRe(_*) => sampleByOpForm(spark, rewritten)
      case _ => None
    }
  }

  // ---- EMA / VWEMA window spellings ----------------------------------------
  // reference functions/window/{Ema,Vwema}DoubleWindowFunctionFactory:
  // avg(price, 'alpha'|'period'|<time unit>, param[, volume]) over
  // ([partition by ...] order by ts) — a recursive fold no Spark frame
  // expresses, lowered through ops.Ema.

  private val EmaItemRe =
    ("""(?i)avg\s*\(\s*([\w.]+)\s*,\s*'(alpha|period|microsecond(?:s)?|millisecond(?:s)?|second(?:s)?|minute(?:s)?|hour(?:s)?|day(?:s)?|week(?:s)?)'\s*,\s*([\d.]+)[DdFf]?\s*""" +
      """(?:,\s*((?:[^()]|\([^()]*\))+?)\s*)?\)\s*over\s*\(\s*(?:partition\s+by\s+([\w.,\s]+?)\s+)?order\s+by\s+([\w.]+)\s*\)""" +
      """(?:\s+AS\s+`?(\w+)`?)?""").r

  private def emaWindowForm(spark: SparkSession, q: String): Option[DataFrame] = {
    val SelRe = ("""(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.`]+)""" +
      """(?:\s+WHERE\s+(.*?))?(?:\s+ORDER\s+BY\s+([\w.,\s]+?))?\s*$""").r
    q match {
      case SelRe(sel, rel, where, order) if EmaItemRe.findFirstIn(sel).isDefined =>
        val items = splitSelect(sel).map(normalizeAliasSpelling)
        // any number of EMA/VWEMA items; every other item must be a bare
        // column (volume may be any expression — pre-projected)
        val parsed = items.map { i =>
          EmaItemRe.findFirstMatchIn(i.trim).filter(_.matched.length >= i.trim.length - 1)
        }
        if (!parsed.exists(_.isDefined)) return None
        if (!items.zip(parsed).forall { case (i, p) =>
          p.isDefined || i.trim.matches("[\\w.]+") }) return None
        val (base0, _) = resolveRel(spark, rel)
        val base1 = Option(where).map(base0.where).getOrElse(base0)
        var df = base1
        var emaIx = 0
        val names = items.zip(parsed).map {
          case (i, None) => i.trim.split('.').last
          case (_, Some(m)) =>
            emaIx += 1
            val (price, mode, param, vol0, partBy, ts) =
              (m.group(1), m.group(2).toLowerCase, m.group(3).toDouble,
                Option(m.group(4)).map(_.trim), Option(m.group(5)), m.group(6))
            val alias = Option(m.group(7)).getOrElse(if (emaIx == 1) "avg" else s"avg${emaIx - 1}")
            df = df.withColumn(price, col(price).cast("double"))
            val vol = vol0.map { v =>
              if (v.matches("[\\w.]+")) { df = df.withColumn(v, col(v).cast("double")); v }
              else { val t = s"__vol$emaIx"; df = df.withColumn(t, expr(v).cast("double")); t }
            }
            val keys = partBy.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            df = mode match {
              case "alpha" => vol match {
                case Some(v) => graft.ops.Ema.vwema(df, ts, keys, price, v, param, alias)
                case None => graft.ops.Ema.ema(df, ts, keys, price, param, alias)
              }
              case "period" =>
                val a = 2.0 / (param + 1.0)
                vol match {
                  case Some(v) => graft.ops.Ema.vwema(df, ts, keys, price, v, a, alias)
                  case None => graft.ops.Ema.ema(df, ts, keys, price, a, alias)
                }
              case unit =>
                val tau = (param * unitMicros(unit.stripSuffix("s") match {
                  case "microsecond" => "U"; case "millisecond" => "T"
                  case "second" => "s"; case "minute" => "m"; case "hour" => "h"
                  case "day" => "d"; case "week" => "w"; case u => u
                })).toLong
                // Δt reads the designated ts even when the window orders
                // by another key (VwemaWindowFunctionTest sort_key)
                val timeCol = Some(tsOfRel(rel, base0)).filter(df.columns.contains)
                graft.ops.Ema.emaDecay(df, ts, keys, price, vol, tau, alias, timeCol)
            }
            alias
        }
        val ts0 = parsed.flatten.head.group(6)
        val projected = df.select(names.map(col): _*)
        // implicit result order is the SCAN order (designated ts), not
        // the window's ORDER BY key (VwemaWindowFunctionTest sort_key)
        val scanTs = tsOfRel(rel, base0)
        val resultKey = if (projected.columns.contains(scanTs)) scanTs else ts0
        Some(Option(order).map(o => projected.orderBy(o.split(",").map(c => col(c.trim)): _*))
          .getOrElse(projected.orderBy(col(resultKey))))
      case _ => None
    }
  }

  // ---- ASOF / LT / SPLICE JOIN ---------------------------------------------

  private val AsofRe = (
    """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel +
      """(?:\s+(?:AS\s+)?(?!ASOF\b|LT\b|SPLICE\b)(\w+))?\s+(ASOF|LT|SPLICE)\s+JOIN\s+""" + Rel +
      """(?:\s+(?:AS\s+)?(?!ON\b|TOLERANCE\b|WHERE\b|ORDER\b|LIMIT\b)(\w+))?""" +
      """(?:\s+ON\s+\(?([\w.,\s=]+?)\)?)?(?:\s+TOLERANCE\s+(\d+)([UTsmhdw]))?""" +
      WhereTail + """\s*$""").r

  private def asofForm(spark: SparkSession, q: String): Option[DataFrame] = q match {
    case AsofRe(sel0, master, mAlias, kind, slave, sAlias, onKeys0, tolN, tolUnit,
                where0, order0, lim1, lim2) =>
      val (m, mName) = resolveRel(spark, master)
      val (s0, sName) = resolveRel(spark, slave)
      // `ON m.k = s.j` equality pairs: rename the slave side onto the
      // master's key name (reference join-column equivalence); bare
      // names are same-named keys
      var s = s0
      val keys = Option(onKeys0).map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
        .filter(_.nonEmpty).map { k =>
          if (k.contains("=")) {
            val Array(l, r) = k.split("=").map(_.trim.split('.').last)
            if (!r.equalsIgnoreCase(l) && s.columns.exists(_.equalsIgnoreCase(r))) {
              // differently-NAMED keys: the join runs on a copy renamed
              // to the master's name, but the slave's own column stays
              // in the payload (reference keeps both — `select * from t1
              // lt join t2 on l1=l2` emits l1, ts1, l2, ts2)
              val sCols = s.columns.flatMap { c =>
                if (c.equalsIgnoreCase(r)) Seq(col(c).as(l), col(c)) else Seq(col(c))
              }
              s = s.select(sCols.toIndexedSeq: _*)
            }
            l
          } else k.split('.').last
        }
      // strip alias qualifiers from the select list / WHERE / ORDER;
      // slave columns that clash with master carry the 1-suffix
      def strip(text0: String): String = {
        if (text0 == null) return null
        var text = text0
        for (al <- Option(mAlias))
          text = text.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(al) + "\\.(\\w+)", "$1")
        for (al <- Option(sAlias))
          text = java.util.regex.Pattern.compile(
            "(?i)\\b" + java.util.regex.Pattern.quote(al) + "\\.(\\w+)").matcher(text)
            .replaceAll { mr =>
              val c = mr.group(1)
              if (m.columns.exists(_.equalsIgnoreCase(c)) && !keys.exists(_.equalsIgnoreCase(c)))
                c + "1"
              else c
            }
        text
      }
      val (sel, where, order) = (strip(sel0), strip(where0), strip(order0))
      val mTs = tsOfRel(mName, m)
      val sTs = tsOfRel(sName, s)
      val tol = Option(tolN).map(_.toLong * unitMicros(tolUnit))
      val renamed = clashRename(m, s, keys)
      val sTsR = if (m.columns.contains(sTs) && !keys.contains(sTs)) sTs + "1" else sTs
      val out = kind.toUpperCase match {
        case "SPLICE" =>
          val mPay = m.columns.filterNot(c => keys.contains(c) || c == mTs).toSeq
          val sPay = renamed.columns.filterNot(c => keys.contains(c) || c == sTsR).toSeq
          graft.ops.AsofJoin.splice(m, renamed, mTs, sTsR, keys, mPay, sPay)
        case k =>
          val sPay = renamed.columns.filterNot(keys.contains).toSeq
          graft.ops.AsofJoin.asofKeyed(m, renamed, mTs, sTsR, keys, sPay,
            strict = k == "LT", toleranceMicros = tol)
      }
      val shaped = if (sel.trim == "*") out
        else out.selectExpr(splitSelect(sel).map(normalizeAliasSpelling): _*)
      Some(applyWhereTail(shaped, where, order, lim1, lim2))
    case _ => None
  }

  // ---- WINDOW JOIN -----------------------------------------------------------
  // SELECT m1, m2, agg AS name, ... FROM master WINDOW JOIN slave ON k
  //   RANGE BETWEEN <n><u> PRECEDING AND <n><u> FOLLOWING [INCLUDE PREVAILING]
  private val WindowJoinRe = (
    """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel + """(?:\s+(?:AS\s+)?(?!WINDOW\b)(\w+))?\s+WINDOW\s+JOIN\s+""" + Rel +
      """(?:\s+(?:AS\s+)?(?!ON\b|RANGE\b)(\w+))?(?:\s+ON\s+\(?([\w.]+\s*=\s*[\w.]+|[\w.,\s]+?)\)?)?\s+RANGE\s+BETWEEN\s+(?:(\d+)\s*([UTsmhdw]|(?i:microsecond|millisecond|second|minute|hour|day|week)s?)?\s+PRECEDING|CURRENT\s+ROW)\s+AND\s+(?:(\d+)\s*([UTsmhdw]|(?i:microsecond|millisecond|second|minute|hour|day|week)s?)?\s+(FOLLOWING|PRECEDING)|CURRENT\s+ROW)(\s+(?:INCLUDE|EXCLUDE)\s+PREVAILING)?""" +
      WhereTail + """\s*$""").r

  private def windowJoinForm(spark: SparkSession, q: String): Option[DataFrame] = q match {
    case WindowJoinRe(sel0, master, mAlias, slave, sAlias, onKeys, loN, loU, hiN, hiU,
                      hiDir, prevailing, where, order, lim1, lim2) =>
      // `ON s.k = m.j` names differing key columns — the slave side
      // renames onto the master's name so the equi-key lowering applies
      // (WindowJoinTest `ON p.sym = t.symbol`)
      val eqForm = Option(onKeys).filter(_.contains("="))
        .map { k =>
          val Array(l, r) = k.split("=").map(_.trim)
          val sSide = if (Option(sAlias).exists(a => l.startsWith(a + "."))) l else r
          val mSide = if (sSide eq l) r else l
          (sSide.replaceAll("^.*\\.", ""), mSide.replaceAll("^.*\\.", ""))
        }
      val keys = eqForm match {
        case Some((_, mk)) => Seq(mk)
        case None =>
          Option(onKeys).map(_.split(",").map(_.trim.replaceAll("^.*\\.", "")).toSeq).getOrElse(Nil)
      }
      val (m, mName) = resolveRel(spark, master)
      val (s0, sName) = resolveRel(spark, slave)
      val s = eqForm match {
        case Some((sk, mk)) if sk != mk => s0.withColumnRenamed(sk, mk)
        case _ => s0
      }
      // rewrite qualifiers against the flat join namespace: master refs
      // drop the qualifier; slave refs whose column clashes with a
      // master column address the clash-renamed `<col>1` (WindowJoinTest
      // `sum(t.price + q.price)`)
      val clashSet = s.columns.filter(c => m.columns.contains(c) && !keys.contains(c)).toSet
      def mapRefs(text0: String): String = {
        if (text0 == null) return null
        var t = text0
        for (al <- Seq(Option(mAlias), Some(master.split('.').last)).flatten
            .filterNot(a => Option(sAlias).contains(a))) {
          t = t.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(al) + "\\.", "")
        }
        for (al <- Seq(Option(sAlias), Some(slave.split('.').last)).flatten) {
          val p = java.util.regex.Pattern.compile(
            "(?i)\\b" + java.util.regex.Pattern.quote(al) + "\\.(\\w+)")
          val mm = p.matcher(t); val sb = new StringBuffer
          while (mm.find()) {
            val c = mm.group(1)
            val rep = if (clashSet.contains(c)) c + "1" else c
            mm.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
          }
          mm.appendTail(sb); t = sb.toString
        }
        t
      }
      var sel = mapRefs(sel0)
      val whereS = mapRefs(where)
      val orderS = mapRefs(order)
      // `alias.*` expands to the master's columns (t.* over the join)
      if (sel.trim == "*" || splitSelect(sel).exists(_.trim == "*"))
        sel = splitSelect(sel).flatMap(i =>
          if (i.trim == "*") m.columns.toSeq else Seq(i)).mkString(", ")
      val items = splitSelect(sel).map(normalizeAliasSpelling)
      val AggAs = """(?is)^(.*?)\s+AS\s+`?(\w+)`?\s*$""".r
      // `col AS name` over a master column is a pass-through rename, not
      // a window aggregate (decorrelated lateral keys arrive this way)
      def renameItem(i: String): Option[(String, String)] = i match {
        case AggAs(e, n) if e.trim.matches("""[\w.]+""") &&
            m.columns.contains(e.trim.split('.').last) =>
          Some((e.trim.split('.').last, n))
        case _ => None
      }
      // inside the window aggregate the lowering's join exposes master
      // columns under the `__m_` prefix (WindowJoin.windowJoin group
      // keys) and slave clash columns as `<col>1` — remap master refs so
      // mixed expressions like `sum(t.price + q.price)` resolve
      def mAggExpr(e0: String): Column = {
        // keys stay on the slave side: their NULLs must count an empty
        // window as empty (the master copy is never null)
        val e = m.columns.filterNot(keys.contains).foldLeft(e0) { (t, c) =>
          t.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b(?!\\s*\\()",
            java.util.regex.Matcher.quoteReplacement(s"__m_$c"))
        }
        expr(e)
      }
      val aggs = items.filterNot(_.matches("""[\w.]+"""))
        .filter(renameItem(_).isEmpty).map {
          case AggAs(e, name) => name -> mAggExpr(e)
          case e => e.replaceAll("\\W", "_") -> mAggExpr(e)
        }
      val mTs = tsOfRel(mName, m)
      val sTs = tsOfRel(sName, s)
      // clash-suffix slave columns (except keys) so agg expressions can
      // address them as <col>1
      val renamed = clashRename(m, s, keys)
      val sTsR = if (m.columns.contains(sTs) && !keys.contains(sTs)) sTs + "1" else sTs
      val lo = Option(loN).map(n => -n.toLong * Option(loU).map(unitMicros).getOrElse(1L)).getOrElse(0L)
      // the high bound may itself be PRECEDING (negative offset —
      // WindowJoinTest `AND 1 microseconds PRECEDING`)
      val hiSign = if (hiDir != null && hiDir.equalsIgnoreCase("PRECEDING")) -1L else 1L
      val hi = Option(hiN).map(n => hiSign * n.toLong * Option(hiU).map(unitMicros).getOrElse(1L)).getOrElse(0L)
      // the reference DEFAULTS to INCLUDE PREVAILING (model/
      // WindowJoinContext.java:39 `includePrevailing = true`) — only an
      // explicit EXCLUDE PREVAILING turns the prevailing record off
      val out =
        if (prevailing == null || prevailing.toUpperCase.contains("INCLUDE")) {
          val payload = renamed.columns.filterNot(keys.contains).toSeq
          graft.ops.WindowJoin.windowJoinPrevailing(m, renamed, mTs, sTsR, keys,
            payload, lo, hi, aggs)
        } else
          graft.ops.WindowJoin.windowJoin(m, renamed, mTs, sTsR, keys, lo, hi, aggs)
      // project in select-list order (bare refs, renames, agg aliases),
      // so the result shape matches the reference's model output
      val shapedCols: Seq[Option[Column]] = items.map { i =>
        if (i.trim.matches("""[\w.]+""")) {
          val n = i.trim.split('.').last
          if (out.columns.contains(n)) Some(col(n)) else None
        } else renameItem(i) match {
          case Some((src, name)) if out.columns.contains(src) =>
            Some(col(src).as(name))
          case _ =>
            val n = i match {
              case AggAs(_, name) => name
              case e => e.replaceAll("\\W", "_")
            }
            if (out.columns.contains(n)) Some(col(n)) else None
        }
      }
      val shaped =
        if (shapedCols.forall(_.isDefined)) out.select(shapedCols.flatten: _*)
        else out
      Some(applyWhereTail(shaped, whereS, orderS, lim1, lim2))
    case _ => None
  }

  // ---- HORIZON JOIN ----------------------------------------------------------
  // SELECT ... FROM master HORIZON JOIN slave ON k LIST (o1, o2, ...)
  //   or ... ON k RANGE FROM a TO b STEP s   (offsets in <n><unit>)
  private val HorizonJoinRe = (
    """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel + """\s+HORIZON\s+JOIN\s+""" + Rel +
      """\s+ON\s+\(?([\w.,\s]+?)\)?\s+LIST\s*\(([\d,\s]+)\)""" + WhereTail + """\s*$""").r
  private val HorizonRangeRe = (
    """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel + """\s+HORIZON\s+JOIN\s+""" + Rel +
      """\s+ON\s+\(?([\w.,\s]+?)\)?\s+RANGE\s+FROM\s+(-?\d+)([UTsmhdw])\s+TO\s+(-?\d+)([UTsmhdw])\s+STEP\s+(\d+)([UTsmhdw])""" +
      WhereTail + """\s*$""").r
  // general spelling (reference HorizonJoinTest): table aliases, ON with
  // cross-named equalities or absent, horizon column alias, WHERE /
  // GROUP BY / ORDER tails with arbitrary expressions
  private val HorizonGeneralRe = (
    """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel +
      """(?:\s+(?:AS\s+)?(?!HORIZON\b)(\w+))?\s+HORIZON\s+JOIN\s+""" + Rel +
      """(?:\s+(?:AS\s+)?(?!ON\b|RANGE\b|LIST\b)(\w+))?""" +
      """(?:\s+ON\s+\(?([\w.\s=,]+?)\)?)?\s+""" +
      """(?:LIST\s*\(([-\d,\sUTsmhdw]+)\)|RANGE\s+FROM\s+(-?\d+)([UTsmhdw])\s+TO\s+(-?\d+)([UTsmhdw])\s+STEP\s+(\d+)([UTsmhdw]))""" +
      """(?:\s+AS\s+(\w+))?(?:\s+WHERE\s+(.+?))?(?:\s+GROUP\s+BY\s+(.+?))?""" +
      """(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+LIMIT\s+(-?\d+)(?:\s*,\s*(-?\d+))?)?\s*$""").r

  /** Chained HORIZON JOINs: every slave is markout-joined to the same
    * master offset grid (reference HorizonJoinTest multi-join cases —
    * one grid explode, one keyed asof per slave). */
  private def multiHorizonForm(spark: SparkSession, q: String): Option[DataFrame] = {
    if ("""(?is)\bHORIZON\s+JOIN\b""".r.findAllIn(q).size < 2) return None
    val head = ("""(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.]+)""" +
      """(?:\s+(?:AS\s+)?(?!HORIZON\b)(\w+))?\s+(?=HORIZON\b)""").r
      .findFirstMatchIn(q).getOrElse(return None)
    val segRe = ("""(?is)\bHORIZON\s+JOIN\s+([\w.]+)""" +
      """(?:\s+(?:AS\s+)?(?!ON\b|RANGE\b|LIST\b)(\w+))?""" +
      """(?:\s+ON\s+\(([^)]*)\))?""").r
    val segs = segRe.findAllMatchIn(q).toVector
    if (segs.size < 2) return None
    val tailStr = q.substring(segs.last.end)
    val tailRe = ("""(?is)^\s*(?:LIST\s*\(([\d,\s-]+)\)|""" +
      """RANGE\s+FROM\s+(-?\d+)([UTsmhdw])\s+TO\s+(-?\d+)([UTsmhdw])(?:\s+STEP\s+(\d+)([UTsmhdw]))?)""" +
      """(?:\s+AS\s+(\w+))?(?:\s+WHERE\s+(.+?))?(?:\s+GROUP\s+BY\s+(.+?))?""" +
      """(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+LIMIT\s+(-?\d+))?\s*;?\s*$""").r
    val tm = tailRe.findFirstMatchIn(tailStr).getOrElse(return None)
    val offsets: Seq[Long] =
      if (tm.group(1) != null) tm.group(1).split(",").map(_.trim.toLong).toSeq
      else {
        val lo = tm.group(2).toLong * unitMicros(tm.group(3))
        val hi = tm.group(4).toLong * unitMicros(tm.group(5))
        val step = Option(tm.group(6)).map(_.toLong * unitMicros(tm.group(7)))
          .getOrElse(if (hi > lo) unitMicros(tm.group(5)) else 1L)
        (lo to hi by step).toSeq
      }
    val (m0, mName) = resolveRel(spark, head.group(2))
    val mAlias = Option(head.group(3))
    val mTs = tsOfRel(mName, m0)
    var acc = m0
      .withColumn("off_us", explode(array(offsets.map(lit): _*)))
      .withColumn("__h_ts", timestamp_micros(unix_micros(col(mTs)) + col("off_us")))
    val quals = scala.collection.mutable.ArrayBuffer[String](mName) ++ mAlias
    for (seg <- segs) {
      val (s0, sName) = resolveRel(spark, seg.group(1))
      quals += sName
      Option(seg.group(2)).foreach(quals += _)
      val pairs = Option(seg.group(3)).toSeq
        .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty).map { p =>
          p.split("=") match {
            case Array(a, b) => (a.trim.split('.').last, b.trim.split('.').last)
            case _ => (p.split('.').last, p.split('.').last)
          }
        }
      val s1 = pairs.foldLeft(s0) { case (d, (a, b)) =>
        if (a != b && d.columns.contains(b)) d.withColumnRenamed(b, a) else d }
      val keys = pairs.map(_._1).filter(s1.columns.contains)
      val sTs0 = tsOfRel(sName, s1)
      val renamed = clashRename(acc, s1, keys)
      val sTsR = if (acc.columns.contains(sTs0) && !keys.contains(sTs0)) sTs0 + "1" else sTs0
      val payload = renamed.columns.filterNot(c => keys.contains(c) || c == sTsR).toSeq
      acc =
        if (keys.nonEmpty)
          graft.ops.AsofJoin.asofKeyed(acc, renamed, "__h_ts", sTsR, keys, payload)
        else graft.ops.AsofJoin.asofNoKey(acc, renamed, "__h_ts", sTsR, payload)
    }
    val joined = acc.drop("__h_ts")
      .withColumnRenamed("off_us", Option(tm.group(8)).getOrElse("h"))
    val view = "__horizon_multi"
    joined.createOrReplaceTempView(view)
    def strip(s: String): String =
      quals.distinct.foldLeft(s)((a2, al) => a2.replaceAll(s"(?i)\\b$al\\.", ""))
    val rebuilt = new StringBuilder(s"SELECT ${strip(head.group(1))} FROM $view")
    Option(tm.group(9)).foreach(w => rebuilt ++= s" WHERE ${strip(w)}")
    Option(tm.group(10)).foreach(g => rebuilt ++= s" GROUP BY ${strip(g)}")
    Option(tm.group(11)).foreach(o => rebuilt ++= s" ORDER BY ${strip(o)}")
    Option(tm.group(12)).foreach(l => rebuilt ++= s" LIMIT $l")
    Some(sql(spark, rebuilt.toString))
  }

  private def horizonJoinForm(spark: SparkSession, q: String): Option[DataFrame] = q match {
    case HorizonRangeRe(sel, master, slave, onKeys, aN, aU, bN, bU, sN, sU,
                        where, order, lim1, lim2) =>
      val lo = aN.toLong * unitMicros(aU)
      val hi = bN.toLong * unitMicros(bU)
      val step = sN.toLong * unitMicros(sU)
      require(step > 0 && hi >= lo, "invalid HORIZON RANGE")
      runHorizon(spark, sel, master, slave, onKeys, (lo to hi by step).toSeq,
        where, order, lim1, lim2)
    case HorizonJoinRe(sel, master, slave, onKeys, list, where, order, lim1, lim2) =>
      runHorizon(spark, sel, master, slave, onKeys,
        list.split(",").map(_.trim.toLong).toSeq, where, order, lim1, lim2)
    case HorizonGeneralRe(sel, master, mAlias, slave, sAlias, onCond, list,
                          aN, aU, bN, bU, sN, sU, hAlias, where, groupBy,
                          order, lim1, lim2) =>
      val offsets =
        if (list != null) list.split(",").map(_.trim).filter(_.nonEmpty).map { it =>
          // each LIST item takes an optional unit suffix (`1s`, `500T`);
          // a bare number is micros (HorizonJoinTest LIST (0, 1s))
          val im = """^(-?\d+)([UTsmhdw])?$""".r.findFirstMatchIn(it)
            .getOrElse(throw new IllegalArgumentException(s"bad HORIZON LIST item '$it'"))
          im.group(1).toLong * Option(im.group(2)).map(unitMicros).getOrElse(1L)
        }.toSeq
        else {
          val lo = aN.toLong * unitMicros(aU)
          val hi = bN.toLong * unitMicros(bU)
          val step = sN.toLong * unitMicros(sU)
          require(step > 0 && hi >= lo, "invalid HORIZON RANGE")
          (lo to hi by step).toSeq
        }
      val (m0, mName) = resolveRel(spark, master)
      val (s0, sName) = resolveRel(spark, slave)
      val mTs = tsOfRel(mName, m0)
      // ON (a = b, ...): cross-named slave keys align to the master's
      val pairs = Option(onCond).toSeq
        .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty).map { p =>
          p.split("=") match {
            case Array(a, b) => (a.trim.split('.').last, b.trim.split('.').last)
            case _ => (p.split('.').last, p.split('.').last)
          }
        }
      val s1 = pairs.foldLeft(s0) { case (d, (a, b)) =>
        if (a != b) d.withColumnRenamed(b, a) else d }
      val keys = pairs.map(_._1)
      val sTs0 = tsOfRel(sName, s1)
      val renamed = clashRename(m0, s1, keys)
      val sTsR = if (m0.columns.contains(sTs0) && !keys.contains(sTs0)) sTs0 + "1" else sTs0
      val payload = renamed.columns.filterNot(c => keys.contains(c) || c == sTsR).toSeq
      val joined0 =
        if (keys.nonEmpty)
          graft.ops.HorizonJoin.horizonJoin(m0, renamed, mTs, sTsR, keys, payload, offsets)
        else {
          import org.apache.spark.sql.functions._
          val grid = m0
            .withColumn("off_us", explode(array(offsets.map(lit): _*)))
            .withColumn("__h_ts", timestamp_micros(unix_micros(col(mTs)) + col("off_us")))
          graft.ops.AsofJoin.asofNoKey(grid, renamed, "__h_ts", sTsR, payload).drop("__h_ts")
        }
      val joined = joined0.withColumnRenamed("off_us", Option(hAlias).getOrElse("h"))
      // rebuild the user's SELECT over the joined view — aggregates,
      // implicit GROUP BY, WHERE/ORDER tails all go through the normal
      // dialect pipeline; alias qualifiers collapse to bare columns
      val view = "__horizon_g"
      joined.createOrReplaceTempView(view)
      val quals = (Seq(mAlias, sAlias).flatMap(Option(_)) ++ Seq(mName, sName)).distinct
      def strip(s0: String): String = {
        // `<hAlias>.offset` addresses the horizon column through its
        // LIST alias (HorizonJoinTest `LIST (0, 1s) AS h` + `h.offset`)
        val s1 = Option(hAlias).map(h =>
          s0.replaceAll(s"(?i)\\b$h\\.offset\\b", h)).getOrElse(s0)
        quals.foldLeft(s1)((acc, a) => acc.replaceAll(s"(?i)\\b$a\\.", ""))
      }
      val rebuilt = new StringBuilder(s"SELECT ${strip(sel)} FROM $view")
      Option(where).foreach(w => rebuilt ++= s" WHERE ${strip(w)}")
      Option(groupBy).foreach(g => rebuilt ++= s" GROUP BY ${strip(g)}")
      Option(order).foreach(o => rebuilt ++= s" ORDER BY ${strip(o)}")
      Option(lim1).foreach(l => rebuilt ++= s" LIMIT $l")
      Option(lim2).foreach(l => rebuilt ++= s",$l")
      Some(sql(spark, rebuilt.toString))
    case _ => None
  }

  private def runHorizon(spark: SparkSession, sel: String, master: String,
                         slave: String, onKeys: String, offsets: Seq[Long],
                         where: String, order: String,
                         lim1: String, lim2: String): Option[DataFrame] = {
    val keys = onKeys.split(",").map(_.trim).toSeq
    val (m, mName) = resolveRel(spark, master)
    val (s, sName) = resolveRel(spark, slave)
    val mTs = tsOfRel(mName, m)
    val sTs = tsOfRel(sName, s)
    val renamed = clashRename(m, s, keys)
    val sTsR = if (m.columns.contains(sTs) && !keys.contains(sTs)) sTs + "1" else sTs
    val payload = renamed.columns.filterNot(c => keys.contains(c) || c == sTsR).toSeq
    val out = graft.ops.HorizonJoin.horizonJoin(m, renamed, mTs, sTsR, keys, payload, offsets)
    val shaped = if (sel.trim == "*") out else out.selectExpr(splitSelect(sel): _*)
    Some(applyWhereTail(shaped, where, order, lim1, lim2))
  }

  // ---- negative / range LIMIT ------------------------------------------------

  private val NegLimitRe = """(?is)^(.*\bORDER\s+BY\s+)([\w.,\s]+?)\s+LIMIT\s+-(\d+)\s*$""".r
  private val NegLimitNoOrderRe =
    ("""(?is)^SELECT\s+(.*?)\s+FROM\s+(([\w.]+|\((?:[^()]|\([^()]*\)|\([^()]*\([^()]*\)[^()]*\))*\))""" +
      """(?:\s+WHERE\s+.*?)?)\s+LIMIT\s+-(\d+)\s*$""").r

  private val NegLimitSelRe =
    """(?is)^SELECT\s+(.*?)\s+FROM\s+(.*?)\s+ORDER\s+BY\s+([\w.,\s]+?)\s+LIMIT\s+-(\d+)\s*$""".r

  private def rewriteNegativeLimit(cat: SessionCatalog, q: String): String = q match {
    case NegLimitSelRe(sel, rest, orderCols, n) if sel.trim != "*" &&
        !"""(?i)\bselect\b""".r.findFirstIn(rest).isDefined =>
      // keep the order key available for the tail slice even when the
      // projection drops it: slice on *, project afterwards
      val cols = orderCols.split(",").map(_.trim)
      val flipped = cols.map { c =>
        if (c.toUpperCase.endsWith(" DESC")) c.dropRight(5) + " ASC"
        else if (c.toUpperCase.endsWith(" ASC")) c.dropRight(4) + " DESC"
        else c + " DESC"
      }.mkString(", ")
      if (sel.trim.toUpperCase.startsWith("DISTINCT")) {
        // DISTINCT must run BEFORE the tail slice (reference pipeline:
        // distinct → order → limit; slicing the base rows first would
        // lose distinct values whose last occurrence falls outside the
        // tail — DistinctWithLimitTest). DISTINCT's order keys are in
        // its projection by dialect rule, so the inner ORDER resolves.
        s"SELECT * FROM (SELECT $sel FROM $rest ORDER BY $flipped LIMIT $n" +
          s") ORDER BY ${cols.mkString(", ")}"
      } else
        s"SELECT $sel FROM (SELECT * FROM $rest ORDER BY $flipped LIMIT $n" +
          s") ORDER BY ${cols.mkString(", ")}"
    case NegLimitRe(prefix, orderCols, n) =>
      val cols = orderCols.split(",").map(_.trim)
      val flipped = cols.map { c =>
        if (c.toUpperCase.endsWith(" DESC")) c.dropRight(5) + " ASC"
        else if (c.toUpperCase.endsWith(" ASC")) c.dropRight(4) + " DESC"
        else c + " DESC"
      }.mkString(", ")
      val orderedNames = cols.mkString(", ")
      s"SELECT * FROM ($prefix$flipped LIMIT $n) ORDER BY $orderedNames"
    case NegLimitNoOrderRe(sel, fromWhere, table, n) =>
      // no ORDER BY: the reference implies designated-ts order; a table
      // with no designated ts slices the tail of the INSERTION order
      // (griffin LimitRecordCursor over the storage scan). The slice
      // keeps `*` so the order key survives a narrowing projection.
      // alias the slice back to the table name so qualified select
      // items (`t2.k x`) keep resolving
      val relAlias =
        if (table.matches("[\\w.]+")) " " + table.split('.').last else ""
      val tsOpt = cat.designatedTs(table)
      if (sel.trim.toUpperCase.startsWith("DISTINCT")) {
        // DISTINCT … LIMIT -n: the reference emits distinct rows in
        // FIRST-APPEARANCE order, then slices the tail
        // (LimitRecordCursorFactory over DistinctRecordCursor). Spark's
        // DISTINCT hash-shuffles and loses appearance order, so lower to
        // group-by-all + min(appearance key): the key is the designated
        // ts when the table has one (scan order IS ts order), else a
        // scan-position id made deterministic by coalescing the scan to
        // one task first (parity surface only — a keyless tail slice
        // needs a total order by definition).
        val items = splitSelect(sel.trim.drop("DISTINCT".length).trim)
        val ridSrc = tsOpt match {
          case Some(ts) => s"SELECT *, unix_micros($ts) AS __graft_rid FROM $fromWhere"
          case None =>
            s"SELECT *, monotonically_increasing_id() AS __graft_rid " +
              s"FROM (SELECT /*+ COALESCE(1) */ * FROM $fromWhere)"
        }
        s"SELECT * EXCEPT (__graft_ord) FROM (" +
          s"SELECT ${items.mkString(", ")}, min(__graft_rid) AS __graft_ord " +
          s"FROM ($ridSrc)$relAlias GROUP BY ALL " +
          s"ORDER BY __graft_ord DESC LIMIT $n) ORDER BY __graft_ord"
      } else tsOpt match {
        case Some(ts) =>
          s"SELECT $sel FROM (SELECT * FROM $fromWhere ORDER BY $ts DESC LIMIT $n)$relAlias ORDER BY $ts"
        case None =>
          s"SELECT $sel FROM (" +
            s"SELECT *, monotonically_increasing_id() AS __graft_rid " +
            s"FROM (SELECT /*+ COALESCE(1) */ * FROM $fromWhere) " +
            s"ORDER BY __graft_rid DESC LIMIT $n)$relAlias ORDER BY __graft_rid"
      }
    case other =>
      // catch-all: any SELECT with a top-level trailing `LIMIT -n` (the
      // named regexes miss deep FROM-subquery nesting) slices the tail
      // in emission order
      """(?is)^(SELECT\s+.*\S)\s+LIMIT\s+-(\d+)\s*$""".r.findFirstMatchIn(other.trim) match {
        case Some(m) if m.group(1).count(_ == '(') == m.group(1).count(_ == ')') =>
          s"SELECT * EXCEPT (__graft_rid) FROM (" +
            s"SELECT /*+ COALESCE(1) */ *, monotonically_increasing_id() AS __graft_rid " +
            s"FROM (${m.group(1)}) " +
            s"ORDER BY __graft_rid DESC LIMIT ${m.group(2)}) ORDER BY __graft_rid"
        case _ => other
      }
  }

  /** `LIMIT lo,hi` → `LIMIT (hi-lo) OFFSET lo` (reference range limit). */
  private val RangeLimitRe = """(?is)^(.*\bLIMIT\s+)(\d+)\s*,\s*(\d+)\s*$""".r

  private def rewriteRangeLimit(q: String): String = q match {
    case RangeLimitRe(prefix, lo, hi) if hi.toLong >= lo.toLong =>
      s"$prefix${hi.toLong - lo.toLong} OFFSET $lo"
    case RangeLimitRe(prefix, lo, hi) =>
      // reversed bounds slice [hi, lo) (reference LIMIT 5,3 → rows 4..5)
      s"$prefix${lo.toLong - hi.toLong} OFFSET $hi"
    case _ => q
  }

  /** `LIMIT lo,hi` with a negative bound: a negative index counts from
    * the end (reference row slice [lo, hi), end-relative when < 0,
    * clamped at the table edges — griffin LimitRecordCursor). Needs the
    * total row count, so it runs the base query for the count first —
    * a parity surface, not the scale path (the single-argument negative
    * LIMIT keeps its reverse-top-k lowering in ops.Limits).
    */
  private val NegRangeLimitRe =
    """(?is)^(.*?)\bLIMIT\s+(-?\d+(?:\s*[-+]\s*\d+)*)\s*,\s*(-?\d+(?:\s*[-+]\s*\d+)*)\s*$""".r

  private def rangeLimitNegForm(spark: SparkSession, q: String): Option[DataFrame] = q match {
    case NegRangeLimitRe(prefix, loS, hiS) if loS.contains("-") || hiS.contains("-") =>
      val base = sql(spark, prefix.trim)
      val n = base.count()
      // constant arithmetic bounds (`LIMIT -9223372036854775807-1, -1`);
      // BigInt keeps Long.MinValue-ish bounds from wrapping in the
      // end-relative shift
      def evalB(s: String): BigInt =
        s.replaceAll("\\s+", "").split("(?=[-+])").filter(_.nonEmpty)
          .map(BigInt(_)).sum
      def abs(v: BigInt): Long =
        (if (v < 0) (BigInt(n) + v).max(0) else v.min(BigInt(n))).toLong
      val b0 = abs(evalB(loS))
      val b1 = math.min(abs(evalB(hiS)), n)
      // reversed bounds slice the swapped range (reference LIMIT -2,-4)
      val (lo, hi) = if (b1 >= b0) (b0, b1) else (b1, math.min(b0, n))
      if (hi <= lo) Some(base.limit(0))
      else Some(base.offset(lo.toInt).limit((hi - lo).toInt))
    case _ => None
  }
}

package graft.sql

/** Textual dialect-surface rewrites that close reference-syntax gaps
  * before Spark parsing (reference `griffin/SqlParser`-accepted spellings
  * that Spark's parser rejects):
  *
  *   - PG-style double-quoted identifiers → backticks ("col" is an
  *     identifier in the reference, never a string)
  *   - numeric literals with `_` digit separators (`50_000`)
  *   - decimal literals with the `m` suffix (`1.25m`)
  *   - `ARRAY[...]` literals → `array(...)`
  *   - `type[]` cast targets → `array<type>`
  *   - sizeless VARCHAR / CHAR and SYMBOL / UUID cast targets → STRING
  *   - `timestamp [with time zone]` cast tails
  *   - `expr at time zone 'TZ'` → from_utc_timestamp
  *   - single-quoted table names after FROM/INTO/TABLE/JOIN → backticks
  *
  * All passes skip single-quoted string literals.
  */
object DialectRewrites {

  def apply(q0: String, cat: graft.SessionCatalog): String = {
    var q = stripComments(q0)
    // the reference tokenizer doesn't need a space after a quoted
    // literal (`FROM 'trades'SAMPLE BY`, `'UTC'with offset`) — insert
    // one (sequential scan; a regex would mis-pair alternating quotes)
    q = spaceAfterLiterals(q)
    // PG escape-string literals (`LIKE E'y'` — the JDBC driver's
    // getColumns probe): the E prefix drops, the body is a plain literal
    q = q.replaceAll("(?<![\\w'])E(?=')", "")
    q = doubleQuotedIdents(q)
    // single-quoted identifier USAGE with member access (`'alias'.col` —
    // reference identifier quoting; SqlCodeGeneratorTest:433): a string
    // literal is never dereferenced, so the dot disambiguates
    q = q.replaceAll("'([A-Za-z_][\\w ]*)'(\\s*\\.\\s*[A-Za-z_`])", "`$1`$2")
    q = mapOutside(q)(underscoreDigits)
    // underscore digit-group separators in numerals (reference numeric
    // literals: 1_000_000, 3_600_000_000L) — must run BEFORE the
    // decimal-literal D-suffix pass below, whose lookbehind rejects `_`
    // (else 1__000.5 would lose its separators without gaining the
    // DOUBLE typing)
    q = mapOutside(q)(s =>
      """(?<![\w.])\d[\d_]*\d""".r.replaceAllIn(s, m => m.matched.replace("_", "")))
    // parenthesized integer multiply chains fold exactly (the reference
    // folds constants in LONG; Spark would multiply INT*INT with 32-bit
    // wraparound — ParquetTest row-group filter constants)
    q = mapOutside(q)(foldIntProducts)
    // parenthesized SAMPLE BY stride (`sample by (1m)`) — normalize
    // BEFORE the decimal m-suffix pass reads `(1m)` as a decimal literal
    q = q.replaceAll("(?i)\\b(SAMPLE\\s+BY)\\s*\\(\\s*(\\d*\\s*[UTsmhdwMy])\\s*\\)", "$1 $2")
    q = mapOutside(q)(decimalSuffix)
    // reference numeric literals with a '.' are DOUBLE (SqlParser float
    // literals); Spark parses them as DECIMAL(p,s) — suffix D, skipping
    // m-suffixed decimals (already 'BD' from decimalSuffix) and
    // exponent forms (lookahead excludes a following letter)
    // a literal about to be cast to DECIMAL keeps its exact digits —
    // the D (double) typing would round 18-digit mantissas
    // (CaseFunctionFactoryTest decimal branches)
    q = mapOutside(q)(_.replaceAll(
      "(?<![\\w.])(\\d+\\.\\d+)(?![\\w.])(?!\\s*(?:[aA][sS]\\s+(?:DECIMAL|NUMERIC|decimal|numeric)|::\\s*(?:decimal|DECIMAL|numeric|NUMERIC)))",
      "$1D"))
    q = mapOutside(q)(hexLiterals)
    // the reference's numeric parser rejects Infinity/NaN words — such
    // casts land null, while Spark would read real infinities
    q = q.replaceAll(
      "(?i)\\bcast\\s*\\(\\s*'(-?Infinity|NaN)'\\s+as\\s+(float|double)\\s*\\)",
      "CAST(NULL AS $2)")
    q = q.replaceAll(
      "(?i)'(-?Infinity|NaN)'\\s*::\\s*(float|double)\\b",
      "CAST(NULL AS $2)")
    // scientific-notation FLOAT literals (1.4E-45F) — Spark's F suffix
    // only parses on plain decimals (SignFunctionFactoryTest)
    q = mapOutside(q)(_.replaceAll(
      "(?i)(?<![\\w.])(\\d+(?:\\.\\d+)?E[+-]?\\d+)F\\b", "CAST($1 AS FLOAT)"))
    q = mapOutside(q)(inNull)
    // null-equality comparisons (reference null = null is true), but not
    // in UPDATE/INSERT assignment contexts
    val fw0 = q0.trim.takeWhile(_.isLetter).toLowerCase
    if (fw0 != "update" && fw0 != "insert") q = mapOutside(q)(eqNull)
    q = mapOutside(q)(nanLiteral)
    // the reference parser takes unquoted unicode identifiers
    // (EngineMigrationTest table names); Spark requires backquotes
    q = quoteUnicodeIdents(q)
    // bare 0x hex literals: long ones are LONG256/LONG128 values (ride
    // as canonical strings), short ones are numbers — Spark parses
    // neither
    q = mapOutside(q)(s => {
      var t = s.replaceAll("(?<![\\w'])0[xX]([0-9a-fA-F]{17,})\\b", "'0x$1'")
      t = """(?<![\w'])0[xX]([0-9a-fA-F]{1,16})\b""".r.replaceAllIn(t,
        m => java.lang.Long.parseUnsignedLong(m.group(1), 16).toString)
      t
    })
    // `fn(...) OVER (spec)::type` — the generic colon-cast passes would
    // capture only the window spec parens as the operand; wrap the whole
    // window call first (WindowFunctionTest row_number()::string)
    q = """(?i)([\w]+\s*\((?:[^()']|'[^']*'|\([^()]*\))*\)(?:\s+(?:ignore|respect)\s+nulls)?\s+OVER\s+(?:\((?:[^()']|'[^']*'|\([^()]*\))*\)|[A-Za-z_]\w*))\s*::\s*(\w+)""".r
      .replaceAllIn(q, m => java.util.regex.Matcher.quoteReplacement(
        // an explicit ::double keeps its user-intent marker — the
        // integer-division rule must not treat it as analyzer coercion
        if (m.group(2).equalsIgnoreCase("double")) s"__graft_dbl(${m.group(1)})"
        else s"CAST(${m.group(1)} AS ${m.group(2)})"))
    // a bare select-item alias that collides with a Spark operator
    // keyword (`a / b div`) — the reference accepts any identifier;
    // backtick it so Spark doesn't read the integer-division operator
    q = mapOutside(q)(_.replaceAll("(?i)(\\S\\s+)div(\\s*(?:,|$)|\\s+from\\b)", "$1`div`$2"))
    // integer-content string literals in arithmetic stay integral in the
    // reference ('2' - 1 = 1, not 1.0); Spark coerces strings to DOUBLE
    q = q.replaceAll("'(-?\\d+)'(\\s*[-+*/%]\\s*)", "$1$2")
      .replaceAll("([-+*/%]\\s*)'(-?\\d+)'", "$1$2")
    // ::ipv4 casts: a dotted literal is already canonical; a number
    // renders dotted (must run before the generic colon-cast passes so
    // chained casts like '1.1.1.1'::ipv4::string keep left association)
    q = q.replaceAll("(?i)('(?:\\d+\\.){3}\\d+')\\s*::\\s*ipv4\\b", "$1")
    q = q.replaceAll("(?i)(?<![\\w.])(\\d+)\\s*::\\s*ipv4\\b", "ipv4_long_to_str($1)")
    // general `expr::ipv4` — typed-dispatch macro the engine expands
    // (numerics render dotted, strings pass through, 0.0.0.0 is null);
    // must precede ipv4Ops so operator operands are recognizable
    q = q.replaceAll(
      "(?i)(?<![:\\w])((?:[\\w.]+)?\\((?:[^()']|'[^']*'|\\([^()']*\\))*\\)|[\\w.]+|'[^']*')\\s*::\\s*ipv4\\b",
      "__ipv4_cast($1)")
    q = ipv4Ops(q, cat)
    // binary regex-match operators over string literals (`s ~ 'pat'`,
    // LiveViewTest regex filters); unary ipv4 ~ takes ident operands so
    // the quoted-pattern requirement keeps them disjoint
    q = q.replaceAll("(?<=[\\w.')\\]`])\\s*!~\\s*('[^']*')", " NOT RLIKE $1")
    q = q.replaceAll("(?<=[\\w.')\\]`])\\s*~\\s*('[^']*')", " RLIKE $1")
    q = arrayLiterals(q)
    // PG quantified comparisons over array operands
    // (AllNotEqStrFunctionFactoryTest `a <> all('{x,y}'::text[])`)
    q = q.replaceAll(
      "(?i)([\\w.]+|'[^']*')\\s*(?:<>|!=)\\s*all\\s*\\(((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*)\\)",
      "(NOT array_contains(($2), $1))")
    q = q.replaceAll(
      "(?i)([\\w.]+|'[^']*')\\s*=\\s*any\\s*\\(((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*)\\)",
      "(array_contains(($2), $1))")
    // PG array-literal text casts: '{-1,-2}'::double[] — the brace text
    // parses as JSON (quoted elements coerce to the element type)
    q = """(?i)('\{[^']*\}')\s*::\s*([a-z]+)\s*((?:\[\s*\]\s*)+)""".r.replaceAllIn(q, m => {
      val et = m.group(2).toLowerCase match {
        case "double" | "real" => "double"
        case "float" => "float"
        case "long" | "bigint" => "bigint"
        case "int" | "integer" => "int"
        case "text" | "varchar" | "symbol" => "string"
        case other => other
      }
      val dims = m.group(3).count(_ == '[')
      val tpe = (1 to dims).foldLeft(et)((t, _) => s"array<$t>")
      // outer no-op CAST keeps the reference's 'cast' output naming;
      // double-quoted elements ('{"1","2"}', PG text-array style) shed
      // their quotes so the JSON reader coerces them numerically
      java.util.regex.Matcher.quoteReplacement(
        s"""CAST(from_json(translate(${m.group(1)}, '{}"', '[]'), '$tpe') AS $tpe)""")
    })
    // `JOIN t ON (col[, col...])` with bare column names = match on
    // same-named columns (reference SqlParser join-column shorthand) —
    // Spark spells it USING. Time-series joins (ASOF/LT/...) keep their
    // own ON(col) spelling for the dedicated op parsers.
    q = mapOutside(q)(joinOnCols)
    q = mapOutside(q)(arrayTypeCasts)
    // reference DECIMAL256 precision reaches 76; Spark caps at 38 —
    // clamp oversized CAST targets (::decimal(70,5) / AS DECIMAL(70,5))
    // keeping the integral digit budget. Column DECLARATIONS keep their
    // spelled precision — the decl parser caps those itself and echoes
    // the original in catalog output.
    // p > 38 cast targets lower to the decimal-string carrier in the
    // fn-macro cast pass (decimal256 tier) — re-spell the postfix form
    // as CAST(x AS DECIMAL(p,s)) so that pass sees it; ≤38 stays native
    q = mapOutside(q)(s =>
      """(?i)((?:[\w.]+)?\((?:[^()]|\([^()]*\))*\)|[\w.]+)\s*::\s*(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
        .replaceAllIn(s, m =>
          if (m.group(2).toInt > 38)
            java.util.regex.Matcher.quoteReplacement(
              s"CAST(${m.group(1)} AS DECIMAL(${m.group(2)},${m.group(3)}))")
          else m.matched))
    // quoted integer subscripts (`arr['2']` — reference coerces STRING
    // indices) must unquote BEFORE the outside-strings scan, whose
    // segment split at the quote would hide the subscript
    q = q.replaceAll("\\[\\s*'(-?\\d+)'\\s*\\]", "[$1]")
    q = mapOutside(q)(arraySubscripts)
    // the char-code cast rule needs the OPERAND, and a function call
    // with quoted args spans mapOutside segments — run that one shape on
    // the full text first (the pattern skips quoted regions itself)
    q = q.replaceAll(
      "(?i)(?<![:\\w])([\\w.]+\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*\\))(?<!::string)\\s*::\\s*char\\b(?!\\s*\\()",
      "(CASE WHEN typeof($1) IN ('tinyint','smallint','int','bigint','float','double') " +
        "THEN IF(CAST($1 AS INT) = 0, CAST(NULL AS STRING), chr(CAST($1 AS INT))) " +
        "ELSE nullif(substring(CAST($1 AS STRING), 1, 1), '') END)")
    q = mapOutside(q)(sizelessTypes)
    q = mapOutside(q)(tzCastTails)
    // quoted-literal ::date / ::timestamp[_ns] operands sit inside
    // string literals — and paren operands CONTAINING literals split
    // across mapOutside segments — so handle those forms on the full
    // text first (quote-aware paren operand)
    locally {
      // a paren operand directly preceded by an identifier is a function
      // call — take the whole call as the cast operand, else
      // `f(args)::timestamp` would glue into `f__ts_us_cast(args)`
      val parenOp = """(?:[\w.]+)?\((?:[^()']|'[^']*'|\([^()']*\))*\)"""
      // '0x…'::long256 string literals ARE the carrier — canonicalize
      // the spelling in place (lowercase, 0x prefix; reference
      // Long256Impl parse+render round-trip); Spark must never see a
      // bare ::long256 (UNSUPPORTED_DATATYPE on INSERT VALUES / inline
      // tables). Quote-bearing paren operands route through the
      // CAST AS LONG256 spelling the fn-macro cast pass renders.
      q = """(?i)'(?:0x)?([0-9a-f]+)'\s*::\s*long256\b""".r.replaceAllIn(q,
        m => java.util.regex.Matcher.quoteReplacement(s"'0x${m.group(1).toLowerCase}'"))
      q = q.replaceAll(s"(?i)($parenOp)\\s*::\\s*long256\\b", "CAST($1 AS LONG256)")
      // quoted-literal operands of >38-digit decimal postfix casts (the
      // mapOutside pass masks string literals, so its ::decimal rule
      // can't see them — FillRecordDispatchTest '1.00'::DECIMAL(60,2))
      q = (s"(?i)($parenOp|'(?:[^']|'')*')\\s*::\\s*(?:DECIMAL|NUMERIC)" +
        "\\s*\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)").r.replaceAllIn(q, m =>
        java.util.regex.Matcher.quoteReplacement(
          if (m.group(2).toInt > 38) s"CAST(${m.group(1)} AS DECIMAL(${m.group(2)},${m.group(3)}))"
          else m.matched))
      q = q.replaceAll(s"(?i)($parenOp|'(?:[^']|'')*')\\s*::\\s*timestamp_ns\\b", "__ns_cast($1)")
      q = q.replaceAll(s"(?i)($parenOp|'(?:[^']|'')*')\\s*::\\s*timestamp\\b(?!_ns)", "__ts_us_cast($1)")
      q = q.replaceAll(s"(?i)($parenOp|'(?:[^']|'')*')\\s*::\\s*date\\b", "CAST($1 AS DATE)")
    }
    q = mapOutside(q)(tsColonCasts)
    q = atTimeZone(q)
    q = namedWindows(q)
    // sequence-family window calls over an EMPTY spec run in scan order
    // in the reference (row_number() over ()); Spark demands an ordering
    // — a partition-local sequential id restores the scan order. Runs
    // AFTER namedWindows so `OVER w ... WINDOW w AS ()` inlines first.
    // NOT mapOutside: the call arguments may span string literals
    // ('30m' stride args) and the regex is quote-aware itself.
    q = q.replaceAll(
      "(?i)\\b(row_number\\s*\\(\\s*\\)|ntile\\s*\\([^()]*\\)" +
        "|(?:lag|lead)\\s*\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*\\))*\\))" +
        "\\s+over\\s*\\(\\s*\\)",
      "$1 OVER (ORDER BY monotonically_increasing_id())")
    // rank-family over an EMPTY spec have NO ordering — every row is a
    // peer: rank/dense_rank emit 1 (WindowFunctionTest:10806),
    // percent_rank 0.0 and cume_dist 1.0 (PercentRankFunctionTest
    // "no order by, all rows are peers"); a constant key satisfies
    // Spark's ordered-window requirement with all-peers semantics
    q = q.replaceAll(
      "(?i)\\b((?:rank|dense_rank|percent_rank|cume_dist)\\s*\\(\\s*\\))\\s+over\\s*\\(\\s*\\)",
      "$1 OVER (ORDER BY 1)")
    // same family over PARTITION BY with no ORDER BY: all-peers within
    // each partition (PercentRankFunctionTest:269)
    q = q.replaceAll(
      "(?i)\\b((?:rank|dense_rank|percent_rank|cume_dist)\\s*\\(\\s*\\))\\s+over\\s*" +
        "\\(\\s*(partition\\s+by\\s+(?:(?!\\border\\s+by\\b)(?:[^()]|\\([^()]*\\)))*?)\\s*\\)",
      "$1 OVER ($2 ORDER BY 1)")
    q = excludeCurrentRow(q)
    // constant-expression OFFSET (reference folds at compile time):
    // WITH OFFSET cast('10:00' AS STRING) → WITH OFFSET '10:00'
    q = q.replaceAll(
      "(?i)(WITH\\s+OFFSET\\s+)cast\\s*\\(\\s*('[^']*')\\s+AS\\s+(?:STRING|VARCHAR|SYMBOL)\\s*\\)",
      "$1$2")
    q = nestedWindows(q)
    q = windowSpecAliases(q)
    q = emptyFrames(q)
    q = lagLeadFrames(q)
    q = timeRangeFrames(q, cat)
    q = unnestAll(q)
    q = unnestColumns(q)
    q = unnestPg(q)
    // `FROM t, UNNEST(..) u(val) JOIN t2 ON …` — Spark wants joins
    // BEFORE lateral views; the reference accepts either order
    // (UnnestTest join-after-unnest)
    q = q.replaceAll(
      "(?is)(LATERAL\\s+VIEW\\s+(?:OUTER\\s+)?\\w+\\s*\\((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*\\)\\s+\\w+\\s+AS\\s+[\\w`]+(?:\\s*,\\s*[\\w`]+)*)\\s+" +
        "((?:(?:INNER|LEFT(?:\\s+OUTER)?|RIGHT(?:\\s+OUTER)?|CROSS|FULL(?:\\s+OUTER)?)\\s+)?JOIN\\s+(?:[^()]|\\([^()]*\\))+?)" +
        "(?=\\s+(?:WHERE|GROUP|ORDER|LIMIT|UNION|HAVING|SAMPLE)\\b|\\s*$)",
      "$2 $1")
    q = pivotGroupBy(q)
    // AFTER pivotGroupBy: a PIVOT's `FOR c IN (1, NULL)` value list is
    // consumed by the pivot lowering — the null-compat predicate rewrite
    // here must only see real IN predicates
    if (fw0 != "update" && fw0 != "insert") q = inListNulls(q, cat)
    // `uuid '…'` typed-literal spelling (PG-style) → marker call: the
    // value is its string form, typeOf answers 'UUID' (UuidTest). A
    // plain CAST AS uuid can't carry that — the uuid target was already
    // erased to STRING by the sizeless-type pass
    q = q.replaceAll("(?i)\\buuid\\s+('[0-9a-fA-F]{8}-[0-9a-fA-F-]{27}')",
      "__uuid_marker($1)")
    q = quotedTableNames(q)
    // inner-subquery designated-timestamp tails — `from (select ...)
    // timestamp(ts) where ...` (reference allows designating ts on any
    // derived table). Spark reads `timestamp(ts)` as an alias+column
    // list, so drop it; only clearly-inner occurrences (followed by a
    // close paren or another clause) are touched — the top-level CREATE
    // ... TIMESTAMP(c) PARTITION BY tail must survive for designation.
    q = mapOutside(q)(s => s.replaceAll(
      "(?is)\\)\\s*timestamp\\s*\\(\\s*[\\w.]+\\s*\\)(\\s*(?:\\)|,|where\\b|sample\\b|order\\b|group\\b|limit\\b|union\\b|intersect\\b|except\\b|latest\\b|join\\b|inner\\b|left\\b|right\\b|cross\\b|asof\\b|lt\\b|splice\\b))",
      ")$1"))
    // designation decorator on a BARE table ref followed by a join or
    // clause (`FROM readings timestamp(ts) JOIN …`,
    // SqlCodeGeneratorTest:5685) — drop it; the table's registered
    // designated ts already covers the semantics
    q = mapOutside(q)(s => s.replaceAll(
      "(?is)\\b(from\\s+[\\w.]+)\\s+timestamp\\s*\\(\\s*[\\w.]+\\s*\\)" +
        "(\\s*(?:join\\b|inner\\b|left\\b|right\\b|cross\\b|asof\\b|lt\\b|splice\\b|window\\s+join|horizon\\b))",
      "$1$2"))
    // parenthesized bare table with a decorator (`((x timestamp(t))
    // WHERE …)` — SqlCodeGeneratorTest:8171): spell out the SELECT head
    q = mapOutside(q)(s => s.replaceAll(
      "(?is)\\(\\s*([A-Za-z_]\\w*)\\s+timestamp\\s*\\(\\s*[\\w.]+\\s*\\)\\s*\\)",
      "(SELECT * FROM $1)"))
    // BETWEEN's call spelling (reference ExpressionParser accepts
    // `x BETWEEN('a','b')` — SqlCodeGeneratorTest:707)
    q = mapOutside(q)(_.replaceAll(
      "(?i)\\bBETWEEN\\s*\\(\\s*('[^']*'|[\\w.]+)\\s*,\\s*('[^']*'|[\\w.]+)\\s*\\)",
      "BETWEEN $1 AND $2"))
    // top-level parenthesized query with a designation tail:
    // `(select ...) timestamp(k)` is a complete statement
    if (fw0.isEmpty || fw0 == "select" || fw0 == "with")
      q = q.replaceAll("(?is)\\)\\s*timestamp\\s*\\(\\s*[\\w.]+\\s*\\)\\s*$", ")")
    // parenthesized bare-table shorthand: `(x where ...)` is a complete
    // subquery in the reference (`SELECT * FROM` is optional at every
    // level) — spell the head out wherever a bare identifier starts a
    // paren group followed by a clause keyword
    q = mapOutside(q)(_.replaceAll(
      "(?i)\\(\\s*([A-Za-z_]\\w*)\\s+(where|latest|sample)\\b",
      "(SELECT * FROM $1 $2"))
    // same shorthand after a set operator: `... union all x where ...`
    q = mapOutside(q)(_.replaceAll(
      "(?i)\\b(union\\s+all|union|intersect(?:\\s+all)?|except(?:\\s+all)?)\\s+" +
        "([A-Za-z_]\\w*)\\s+(where|latest|sample)\\b",
      "$1 SELECT * FROM $2 $3"))
    // parenthesized bare-table set operands: `(x union x)` /
    // `(a except all b)` are full queries in the reference (SampleByTest
    // where-IN subqueries, UnionAllCastTest paren heads)
    q = mapOutside(q)(_.replaceAll(
      "(?i)\\(\\s*([A-Za-z_]\\w*)\\s+(union\\s+all|union|intersect(?:\\s+all)?|except(?:\\s+all)?)\\s+" +
        "([A-Za-z_]\\w*)\\s*([)\\s])",
      "(SELECT * FROM $1 $2 SELECT * FROM $3$4"))
    // function-call BETWEEN (reference `x BETWEEN('a','b')` =
    // `x BETWEEN 'a' AND 'b'`) — full-text: the operands are string
    // literals, which mapOutside segments would split
    q = q.replaceAll(
      "(?i)\\bbetween\\s*\\(\\s*('[^']*'|[\\w.]+)\\s*,\\s*('[^']*'|[\\w.]+)\\s*\\)",
      "BETWEEN $1 AND $2")
    // LIMIT lo,hi inside a subquery (reference row-range slice; the
    // top-level form is handled by the range-limit operator): rows
    // lo+1..hi = OFFSET lo LIMIT hi-lo
    q = limitRangeInner(q)
    // reference parser tolerates a trailing comma before FROM
    q = mapOutside(q)(_.replaceAll("(?i),\\s*(from\\b)(?!_)", " $1"))
    // `x in null::string` lowered through the null-compat passes leaves
    // `IS CAST(NULL AS …)` — Spark's IS only accepts the bare literal
    q = q.replaceAll(
      "(?is)\\bIS\\s+CAST\\s*\\(\\s*NULL\\s+AS\\s+[\\w<>(), ]+\\s*\\)", "IS NULL")
    // the reference lexer needs no space between ')' and a keyword
    q = mapOutside(q)(s => s.replaceAll(
      "(?i)\\)(from|where|sample|order|group|limit|union|intersect|except|latest|align|and|or)\\b", ") $1"))
    // ...nor between FROM/JOIN and an opening paren (`FROM(select ...)`)
    q = mapOutside(q)(_.replaceAll("(?i)\\b(from|join)\\(", "$1 ("))
    q
  }

  /** Reference `PIVOT (aggs FOR c1 IN (…) [c2 IN (…)] GROUP BY keys
    * [ORDER BY …] [LIMIT n])` → conditional aggregation (one FILTERed
    * aggregate per value-combination × aggregate), the same lowering
    * the reference's SqlOptimiser.rewritePivot performs over its model.
    * Direct conditional aggregation (not Spark's PIVOT clause) because
    * the reference's surface is wider: NULL pivot values (null-safe
    * compare), expression pivot columns (`year - 2000`), several FOR
    * clauses (label cross-product), aggregate EXPRESSIONS
    * (`SUM(v+1)+10`), duplicate-label `_2` disambiguation, and
    * matching-rows-only semantics (groups with no matching row are NOT
    * emitted — the source pre-filters on the value set). Rows stream in
    * first-appearance order of the keys, like every reference group-by
    * cursor. Plan shape: single hash aggregate with map-side partials —
    * identical to what Spark's own PIVOT lowers to. */
  private def pivotGroupBy(q0: String): String = {
    val rel3 = "(?:`[^`]+`|[\\w.])+|\\((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*\\)"
    val pat = java.util.regex.Pattern.compile(
      "(?is)\\b(FROM\\s+)(" + rel3 + ")(\\s+PIVOT\\s*\\(\\s*)(.+?)" +
        "((?:\\s+FOR\\s+.+?IN\\s*\\((?:[^()]|\\([^()]*\\))*\\))+)" +
        "\\s+GROUP\\s+BY\\s+([\\w`.,\\s]+?)" +
        "(\\s+ORDER\\s+BY\\s+[\\w`.,\\s]+?)?(\\s+LIMIT\\s+\\d+)?\\s*\\)")
    var s = q0
    var m = pat.matcher(s)
    var guard = 0
    while (m.find() && guard < 16) {
      guard += 1
      val (from, rel, aggsTxt, forsTxt, keys) =
        (m.group(1), m.group(2), m.group(4), m.group(5), m.group(6))
      val orderTail = Option(m.group(7)).map(_.trim)
      val limitTail = Option(m.group(8)).map(_.trim).getOrElse("")
      // aggregates: top-level comma split, each `expr [AS alias]`
      val aggs = splitTopCommas(aggsTxt).map { a =>
        "(?is)^(.*?)\\s+AS\\s+[`\"]?([\\w.]+)[`\"]?\\s*$".r.findFirstMatchIn(a.trim)
          .map(am => (am.group(1).trim, Some(am.group(2))))
          .getOrElse((a.trim, None))
      }
      // FOR clauses: (pivot expression, value literals)
      val forPat = java.util.regex.Pattern.compile(
        "(?is)(?:\\bFOR\\s+)?(.+?)\\s+IN\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)")
      val fm = forPat.matcher(forsTxt.trim.replaceAll("(?is)^FOR\\s+", ""))
      val fors = scala.collection.mutable.Buffer[(String, Seq[String])]()
      while (fm.find())
        fors += ((fm.group(1).trim, splitTopCommas(fm.group(2)).map(_.trim)))
      def valueLabel(v: String): String = {
        val t = v.trim
        val raw =
          if (t.equalsIgnoreCase("null")) "NULL"
          else if (t.startsWith("'")) {
            val c = t.substring(1, t.length - 1).replace("''", "'")
            // double quotes are identifier quotes in the reference — a
            // '"in"' value labels as `in` (PivotTest dedup cases)
            if (c.length >= 2 && c.startsWith("\"") && c.endsWith("\""))
              c.substring(1, c.length - 1)
            else c
          }
          // numeric literals label without our D/L widening suffixes
          else if (t.matches("-?\\d+(\\.\\d+)?[DdLl]")) t.substring(0, t.length - 1)
          else t
        // labels trim trailing whitespace (reference createColumnAlias;
        // the `_2` dedup then separates 'in' from 'in '), and an empty
        // value gets the default item name
        val trimmed = raw.replaceAll("\\s+$", "")
        if (trimmed.isEmpty) "column" else trimmed
      }
      // value combinations (cross product across FOR clauses)
      def combos(rest: Seq[(String, Seq[String])]): Seq[(String, Seq[String])] =
        rest match {
          case Seq() => Seq(("", Nil))
          case (col, vals) +: tail =>
            val sub = combos(tail)
            vals.flatMap(v => sub.map { case (lbl, conds) =>
              val l = valueLabel(v)
              ((if (lbl.isEmpty) l else l + "_" + lbl),
                (s"($col) <=> ($v)") +: conds)
            })
        }
      val combosAll = combos(fors.toSeq)
      // FILTER injection: every AGGREGATE call inside the expression
      // gets the combination's condition (non-aggregate calls —
      // coalesce/abs wrappers — are scanned through, reference
      // `coalesce(0, SUM(x))` / `abs(SUM(x))` forms)
      val aggHeads = Set("sum", "count", "avg", "min", "max", "first", "last",
        "first_value", "last_value", "ksum", "nsum", "stddev", "stddev_samp",
        "stddev_pop", "variance", "var_samp", "var_pop", "count_distinct",
        "string_agg", "vwap", "wavg", "min_by", "max_by", "arg_min", "arg_max",
        "mode", "median", "approx_count_distinct", "covar_samp", "covar_pop", "corr")
      def withFilter(aggExpr: String, cond: String): String = {
        val heads = java.util.regex.Pattern.compile(
          "(?i)\\b([A-Za-z_][\\w$]*)\\s*\\(")
        val hm = heads.matcher(aggExpr)
        val out = new StringBuilder
        var last = 0
        while (hm.find()) {
          if (hm.start() >= last && aggHeads(hm.group(1).toLowerCase)) {
            // balanced close of this call
            var depth = 0; var i = hm.end() - 1; var close = -1
            while (i < aggExpr.length && close < 0) {
              aggExpr.charAt(i) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) close = i
                case _ =>
              }
              i += 1
            }
            if (close > 0) {
              out.append(aggExpr.substring(last, close + 1))
              out.append(s" FILTER (WHERE $cond)")
              last = close + 1
            }
          }
        }
        out.append(aggExpr.substring(last))
        out.toString
      }
      val multiAgg = aggs.size > 1
      // labels with case-insensitive `_2`-style dedup (reference
      // rewritePivot duplicate handling)
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val items = combosAll.flatMap { case (lbl, conds) =>
        val cond = conds.mkString(" AND ")
        aggs.map { case (aggExpr, alias) =>
          // reference labels spell count() argless and the null value
          // lowercase when an agg suffix follows (PivotTest multi-agg)
          val aggLbl = aggExpr.replaceAll("\\(\\s*\\*\\s*\\)", "()")
          val suffix = alias.map("_" + _)
            .getOrElse(if (multiAgg) "_" + aggLbl else "")
          val lblAdj = if (suffix.nonEmpty && lbl == "NULL") "null" else lbl
          val base = lblAdj + suffix
          val k = base.toLowerCase
          val n = seen.getOrElse(k, 0) + 1
          seen(k) = n
          val name = if (n == 1) base else s"${base}_$n"
          s"${withFilter(aggExpr, cond)} AS `${name.replace("`", "")}`"
        }
      }
      // matching-rows-only: the source filters on the union of value
      // sets, so keys with no matching row vanish (reference semantics)
      val whereSql = fors.map { case (col, vals) =>
        vals.map(v => s"($col) <=> ($v)").mkString("(", " OR ", ")")
      }.mkString(" AND ")
      val keyCols = keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // first-appearance key order (reference group-by cursors stream
      // keys in scan order); an explicit ORDER BY in the clause wins
      val order = orderTail.getOrElse("ORDER BY min(__gpos)")
      val repl = s"$from(SELECT ${keyCols.mkString(", ")}, ${items.mkString(", ")} " +
        s"FROM (SELECT *, monotonically_increasing_id() AS __gpos FROM $rel) " +
        s"WHERE $whereSql GROUP BY ${keyCols.mkString(", ")} $order $limitTail)"
      s = s.substring(0, m.start()) + repl + s.substring(m.end())
      m = pat.matcher(s)
    }
    s
  }

  /** Top-level comma split (parens- and quote-aware). */
  private def splitTopCommas(s: String): Seq[String] = {
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
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** `FROM t, UNNEST(expr COLUMNS(a TYPE, ...)) u` — JSON-array unnest
    * with a declared element schema (reference griffin UNNEST table
    * function) → LATERAL VIEW explode(from_json(...)). One declared
    * column makes the elements scalars (`u.val`); several make them
    * objects (`u.a`, `u.b`). */
  /** Spark resolves a lateral subquery's outer references only one
    * level up; the reference resolves them transitively (LateralJoinTest
    * nested forms, e.g. an innermost lateral filtering on the top
    * table). A PLAIN derived table inside a lateral body CAN reference
    * the level above — so thread deep references through a one-row
    * carrier subquery prepended to the enclosing lateral's FROM, and
    * iterate to a fixpoint for deeper nesting. */
  private[sql] def threadLateralOuterRefs(q0: String): String = {
    if ("""(?i)\bLATERAL\b""".r.findAllIn(q0).size < 2) return q0
    var s = q0
    var guard = 0
    var changed = true
    val reserved = Set("select", "from", "join", "on", "using", "where", "group",
      "order", "limit", "having", "union", "intersect", "except", "as", "and",
      "or", "not", "case", "when", "then", "else", "end", "by", "asc", "desc",
      "left", "right", "inner", "cross", "full", "outer", "lateral", "with",
      "window", "sample", "latest", "null", "true", "false", "struct", "in")
    def relTokens(text: String): Set[String] = {
      val out = scala.collection.mutable.Set[String]()
      // FROM/JOIN targets + their aliases
      val fj = """(?is)\b(?:from|join)\s+([A-Za-z_][\w.]*)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?""".r
      fj.findAllMatchIn(text).foreach { m =>
        out += m.group(1).split('.').head.toLowerCase
        Option(m.group(2)).map(_.toLowerCase).filterNot(reserved).foreach(out += _)
      }
      // `) alias` (derived tables, lateral aliases)
      val pa = """(?is)\)\s*(?:as\s+)?([A-Za-z_]\w*)""".r
      pa.findAllMatchIn(text).foreach { m =>
        val a = m.group(1).toLowerCase
        if (!reserved(a)) out += a
      }
      out.toSet
    }
    def lateralSpans(text: String): Seq[(Int, Int)] = {
      val pat = java.util.regex.Pattern.compile("(?i)\\bLATERAL\\s*\\(")
      val m = pat.matcher(text)
      val spans = scala.collection.mutable.Buffer[(Int, Int)]()
      while (m.find()) {
        val open = m.end() - 1
        var depth = 0; var j = open; var close = -1
        while (j < text.length && close < 0) {
          text.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = j
            case '\'' => var k = j + 1; while (k < text.length && text.charAt(k) != '\'') k += 1; j = k
            case _ =>
          }
          j += 1
        }
        if (close > 0) spans += ((open + 1, close)) // body bounds
      }
      spans.toSeq
    }
    while (changed && guard < 8) {
      changed = false; guard += 1
      val spans = lateralSpans(s)
      // outermost-first: pick the first body containing a nested lateral
      // with refs bound outside that body
      val target = spans.find { case (lo, hi) =>
        val body = s.substring(lo, hi)
        lateralSpans(body).nonEmpty && {
          val defined = relTokens(body)
          lateralSpans(body).exists { case (ilo, ihi) =>
            val inner = body.substring(ilo, ihi)
            """(?<![`\w])([A-Za-z_]\w*)\.[A-Za-z_]\w*(?![\w`])""".r.findAllMatchIn(inner)
              .exists(m => !defined(m.group(1).toLowerCase) &&
                !reserved(m.group(1).toLowerCase))
          }
        }
      }
      target.foreach { case (lo, hi) =>
        val body = s.substring(lo, hi)
        val defined = relTokens(body)
        // all deep refs anywhere in the body's nested laterals
        val deepRefs = lateralSpans(body).flatMap { case (ilo, ihi) =>
          // backtick-quoted identifiers may CONTAIN dots (`count.ed` —
          // LateralJoinTest:1029): the lookarounds keep the scan out of
          // quoted names so they are never mistaken for outer refs
          """(?<![`\w])([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b(?![\w`]|\s*\()""".r
            .findAllMatchIn(body.substring(ilo, ihi))
            .filter(m => !defined(m.group(1).toLowerCase) &&
              !reserved(m.group(1).toLowerCase))
            .map(m => (m.group(1), m.group(2)))
        }.distinct
        if (deepRefs.nonEmpty) {
          val carrier = deepRefs.map { case (t, c) => s"$t.$c AS __thr_${t}_$c" }
            .mkString(", ")
          var newBody = body
          deepRefs.foreach { case (t, c) =>
            newBody = newBody.replaceAll(
              s"(?<![`\\w])${java.util.regex.Pattern.quote(t)}\\.${java.util.regex.Pattern.quote(c)}\\b(?![\\w`])",
              s"__thr.__thr_${t}_$c")
          }
          // prepend the carrier to the body's first FROM at depth 0
          val fromAt = {
            val lower = newBody.toLowerCase
            var i = 0; var depth = 0; var at = -1
            while (i < lower.length && at < 0) {
              lower.charAt(i) match {
                case '(' => depth += 1; i += 1
                case ')' => depth -= 1; i += 1
                case '\'' => var k = i + 1; while (k < lower.length && lower.charAt(k) != '\'') k += 1; i = k + 1
                case _ =>
                  if (depth == 0 && lower.startsWith("from", i) &&
                      (i + 4 >= lower.length || !lower.charAt(i + 4).isLetterOrDigit) &&
                      (i == 0 || !lower.charAt(i - 1).isLetterOrDigit)) at = i
                  else i += 1
              }
            }
            at
          }
          if (fromAt >= 0) {
            newBody = newBody.substring(0, fromAt) +
              s"FROM (SELECT $carrier) __thr CROSS JOIN " +
              newBody.substring(fromAt + 4).trim
            s = s.substring(0, lo) + newBody + s.substring(hi)
            changed = true
          }
        }
      }
    }
    s
  }

  /** Unified UNNEST lowering for the spellings the narrower passes
    * can't express: per-argument `COLUMNS(name TYPE, ...)` JSON typed
    * extraction (reference griffin/unnest JsonUnnest), JOIN-context
    * (`CROSS JOIN UNNEST(...)`), and alias column lists over any mix.
    * Plain comma/FROM forms without COLUMNS fall through to
    * [[unnestColumns]] / [[unnestPg]]. */
  private def unnestAll(q0: String): String = {
    var s = q0
    val kw = java.util.regex.Pattern.compile("(?i)\\bUNNEST\\s*\\(")
    var guard = 0
    var changed = true
    while (changed && guard < 32) {
      changed = false; guard += 1
      val m = kw.matcher(s)
      var done = false
      while (!done && m.find()) {
        val open = m.end() - 1
        var depth = 0; var j = open; var close = -1
        while (j < s.length && close < 0) {
          s.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = j
            case '\'' => var k = j + 1; while (k < s.length && s.charAt(k) != '\'') k += 1; j = k
            case _ =>
          }
          j += 1
        }
        if (close < 0) done = true
        else {
          val args = splitBalancedCommas(s.substring(open + 1, close)).map(_.trim)
          // arg = expr [COLUMNS(name TYPE, ...)]
          val colsPat = """(?is)^(.*?)\s+COLUMNS\s*\((.*)\)\s*$""".r
          val parsed: Seq[(String, Option[Seq[(String, String => String)]])] =
            args.map {
              case colsPat(e, decls) =>
                val ds = splitBalancedCommas(decls).map(_.trim).filter(_.nonEmpty).map { d =>
                  val parts = d.split("\\s+", 2)
                  val raw = parts(0)
                  val nm0 =
                    if (raw.startsWith("'") || raw.startsWith("\"") || raw.startsWith("`"))
                      raw.substring(1, raw.length - 1)
                    else raw
                  val nm = if (nm0.matches("\\w+") && !SqlReserved(nm0.toLowerCase)) nm0
                    else s"`$nm0`"
                  (nm, jsonElemConv(parts.lift(1).getOrElse("string")))
                }
                (e.trim, Some(ds))
              case e => (e.trim, None)
            }
          // context before UNNEST
          val before = s.substring(0, m.start())
          val joinM = """(?is)((?:cross\s+|left\s+(?:outer\s+)?|inner\s+)?join)\s*$""".r
            .findFirstMatchIn(before)
          val commaCtx = before.trim.endsWith(",")
          val fromCtx = !commaCtx && joinM.isEmpty &&
            """(?is)\bfrom\s*$""".r.findFirstIn(before).isDefined
          val hasColumns = parsed.exists(_._2.isDefined)
          if (!hasColumns && joinM.isEmpty) done = true // simpler passes handle
          else {
            // tail: [WITH ORDINALITY] [[AS] alias[(cols)]]
            val tail = s.substring(close + 1)
            val tailM = ("""(?is)^(\s+WITH\s+ORDINALITY)?""" +
              """(?:\s+(?:AS\s+)?([A-Za-z_]\w*)\s*(\(\s*[^()]*?\s*\))?)?""").r
              .findFirstMatchIn(tail).get
            val withOrd = tailM.group(1) != null
            val aliasOpt = Option(tailM.group(2)).filterNot(a => Set(
              "with", "columns", "order", "group", "where", "limit", "sample",
              "union", "except", "intersect", "join", "left", "right", "inner",
              "cross", "on", "using", "lateral", "as", "having", "window",
              "latest").contains(a.toLowerCase))
            val aliasCols = if (aliasOpt.isEmpty) None else Option(tailM.group(3))
              .map(_.stripPrefix("(").stripSuffix(")").split(",").map(_.trim).toSeq)
            val tailEnd = close + 1 + (
              if (aliasOpt.isEmpty) Option(tailM.group(1)).map(_ => tailM.end(1)).getOrElse(0)
              else tailM.end)
            // per-arg array expression + its output fields.
            // Decl-bearing args always parse as array<string> (the JSON
            // parser hands objects through as their raw text and decodes
            // scalars), then each element dispatches at runtime: object
            // text → get_json_object field extraction, scalar text →
            // direct conversion. This is the reference's per-element
            // model — mixed arrays like [null, {"a":1}, 2] behave.
            // fields: (outName, value-from-element fn); direct = the
            // element IS the value (explode fast path eligible)
            case class Part(arr: String, fields: Seq[(String, String => String)],
                            direct: Boolean)
            var autoIdx = 0
            val parts = parsed.map {
              case (e, None) =>
                autoIdx += 1
                Part(e, Seq(((if (parsed.length == 1) "value" else s"value$autoIdx"),
                  (x: String) => x)), direct = true)
              case (e, Some(ds)) if ds.length == 1 =>
                val (cn, conv) = ds.head
                val get = conv(s"get_json_object(__je, '${jsonPath(cn)}')")
                val arr = s"transform(from_json($e, 'array<string>'), __je -> " +
                  s"CASE WHEN __je RLIKE '^\\\\s*\\\\{' THEN $get ELSE ${conv("__je")} END)"
                Part(arr, Seq((cn, (x: String) => x)), direct = true)
              case (e, Some(ds)) =>
                val raw = s"from_json($e, 'array<string>')"
                Part(raw, ds.map { case (n, conv) =>
                  (n, (el: String) => s"(CASE WHEN $el RLIKE '^\\\\s*\\\\{'" +
                    s" THEN ${conv(s"get_json_object($el, '${jsonPath(n)}')")} END)")
                }, direct = false)
            }
            val flatNames0 = parts.flatMap(_.fields.map(_._1))
            val flatNames = aliasCols match {
              case Some(cs) if cs.length == flatNames0.length ||
                  (withOrd && cs.length == flatNames0.length + 1) => cs
              case _ => flatNames0 ++ (if (withOrd) Seq("ordinality") else Seq())
            }
            val ordName = if (withOrd)
              Some(flatNames.lift(flatNames0.length).getOrElse("ordinality")) else None
            val outNames = flatNames.take(flatNames0.length)
            val outer = joinM.exists(_.group(1).toLowerCase.startsWith("left"))
            val body: String = {
              val single = parts.length == 1 && parts.head.fields.length == 1 &&
                parts.head.direct && ordName.isEmpty
              if (single) s"explode(${parts.head.arr})"
              else {
                val sizes = parts.map(p => s"size(${p.arr})")
                val sizeExpr = if (sizes.length == 1) sizes.head
                  else s"greatest(${sizes.mkString(", ")})"
                var fi = -1
                val fieldsSql = parts.flatMap { p =>
                  p.fields.map { case (_, fn) =>
                    fi += 1
                    val el = s"try_element_at(${p.arr}, CAST(__i AS INT))"
                    s"${fn(el)} AS __f$fi"
                  }
                } ++ ordName.map(_ => "__i AS __ford")
                s"inline(transform(sequence(1, $sizeExpr), __i -> " +
                  s"struct(${fieldsSql.mkString(", ")})))"
              }
            }
            // Spark's LATERAL VIEW colName grammar keeps the backticks
            // inside a dotted quoted alias (`a.b` becomes a name that
            // literally contains backticks) — mangle such names to the
            // __ux<hex> convention RefText.demangle reverses, and
            // rewrite the statement's references below
            val genColsSeq0 = outNames ++ ordName.toSeq
            val genColsSeq = genColsSeq0.map { n =>
              val inner = n.stripPrefix("`").stripSuffix("`")
              if (n.startsWith("`") && !inner.matches("\\w+"))
                "__ux" + inner.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
              else n
            }
            val genCols = genColsSeq.mkString(", ")
            val repl =
              if (fromCtx) {
                val aliased = if (genColsSeq.length == 1) s"$body AS $genCols"
                  else s"$body AS ($genCols)"
                s"(SELECT $aliased)" + aliasOpt.map(a => s" $a").getOrElse("")
              } else {
                val alias = aliasOpt.getOrElse("__unnest")
                s" LATERAL VIEW ${if (outer) "OUTER " else ""}$body $alias AS $genCols"
              }
            val replStart = joinM.map(_.start).getOrElse {
              if (commaCtx) before.lastIndexOf(',') else m.start()
            }
            // tailEnd swallowed the whitespace after the alias — re-pad
            // so the replacement never glues onto the next token
            // (`u AS valLIMIT 2`)
            s = s.substring(0, replStart) + repl + " " + s.substring(tailEnd)
            genColsSeq0.zip(genColsSeq).foreach { case (orig, m) =>
              if (orig != m) s = s.replace(orig, m)
            }
            changed = true; done = true
          }
        }
      }
    }
    s
  }

  private def unnestColumns(q0: String): String = {
    val pat = java.util.regex.Pattern.compile(
      "(?is),?\\s*UNNEST\\s*\\(\\s*(.+?)\\s+COLUMNS\\s*\\(([^)]*)\\)\\s*\\)\\s*(?:AS\\s+)?([A-Za-z_]\\w*)")
    var s = q0
    var m = pat.matcher(s)
    var guard = 0
    while (m.find() && guard < 16) {
      guard += 1
      val expr = m.group(1)
      val cols = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).map { d =>
        val parts = d.split("\\s+", 2)
        // quoted declared names ('a.b' DOUBLE) → backticked identifiers
        val raw = parts(0)
        val nm0 = if (raw.startsWith("'") || raw.startsWith("\""))
          raw.substring(1, raw.length - 1) else raw
        val nm = if (nm0.matches("\\w+") && !SqlReserved(nm0.toLowerCase)) nm0
          else s"`$nm0`"
        (nm, jsonElemConv(parts.lift(1).getOrElse("string")), jsonType(parts.lift(1).getOrElse("string")))
      }
      val alias = m.group(3)
      val repl =
        if (cols.length == 1) {
          // scalar elements OR single-field objects (reference extracts
          // the declared field from object arrays) — per-element runtime
          // dispatch over the raw JSON text, as in unnestAll
          val (cn, conv, _) = cols(0)
          val get = conv(s"get_json_object(__je, '${jsonPath(cn)}')")
          val arr = s"transform(from_json($expr, 'array<string>'), __je -> " +
            s"CASE WHEN __je RLIKE '^\\\\s*\\\\{' THEN $get ELSE ${conv("__je")} END)"
          s" LATERAL VIEW explode($arr) $alias AS $cn"
        }
        else {
          val st = cols.map { case (n, _, t) => s"$n:$t" }.mkString(",")
          s" LATERAL VIEW explode(from_json($expr, 'array<struct<$st>>')) ${alias}_lv AS $alias"
        }
      s = s.substring(0, m.start()) + repl + s.substring(m.end())
      m = pat.matcher(s)
    }
    s
  }

  /** Element converter for an UNNEST COLUMNS decl, over the raw text of
    * one JSON element (scalars arrive decoded, objects as JSON text).
    * Follows reference unnest/JsonUnnest semantics: a JSON NUMBER is
    * epoch MICROS for TIMESTAMP and epoch MILLIS for DATE; integral
    * targets truncate fractional numbers. */
  private def jsonElemConv(t: String): String => String = {
    def intish(sparkT: String): String => String = x =>
      s"coalesce(CAST($x AS $sparkT), CAST(CAST($x AS DOUBLE) AS $sparkT))"
    t.trim.toLowerCase match {
      case "int" | "integer" => intish("INT")
      case "long" | "bigint" => intish("BIGINT")
      case "short" => intish("SMALLINT")
      case "byte" => intish("TINYINT")
      case "float" => x => s"CAST($x AS FLOAT)"
      case "double" => x => s"CAST($x AS DOUBLE)"
      // only JSON literal true is true; numbers and other strings are
      // false (reference JsonUnnest boolean coercion)
      case "boolean" => x =>
        s"(CASE WHEN $x IS NULL THEN CAST(NULL AS BOOLEAN) ELSE lower($x) = 'true' END)"
      case "timestamp" | "timestamp_ns" => x =>
        s"(CASE WHEN $x RLIKE '^-?[0-9]+$$' THEN timestamp_micros(CAST($x AS BIGINT))" +
          s" ELSE CAST($x AS TIMESTAMP) END)"
      case "date" => x =>
        s"(CASE WHEN $x RLIKE '^-?[0-9]+$$'" +
          s" THEN CAST(timestamp_millis(CAST($x AS BIGINT)) AS TIMESTAMP_NTZ)" +
          s" ELSE CAST(CAST($x AS TIMESTAMP) AS TIMESTAMP_NTZ) END)"
      case _ => x => x
    }
  }

  /** get_json_object path for a declared field name (bracket form for
    * names a dotted path would mis-traverse). Returned text embeds in a
    * single-quoted SQL literal, so inner quotes arrive pre-doubled. */
  private def jsonPath(nm: String): String = {
    val n = nm.stripPrefix("`").stripSuffix("`")
    if (n.matches("[A-Za-z_]\\w*")) s"$$.$n" else s"$$[''$n'']"
  }

  /** Words that cannot stand unquoted as a generated column alias. */
  private val SqlReserved = Set(
    "select", "from", "where", "group", "order", "by", "limit", "union",
    "join", "on", "using", "case", "when", "then", "else", "end", "and",
    "or", "not", "null", "true", "false", "cast", "as", "distinct",
    "having", "window", "lateral", "cross", "left", "right", "full",
    "inner", "outer", "table", "values", "insert", "update", "delete")

  private def jsonType(t: String): String = t.trim.toLowerCase match {
    case "int" | "integer" => "int"
    case "long" | "bigint" => "bigint"
    case "short" => "smallint"
    case "byte" => "tinyint"
    case "float" => "float"
    case "double" => "double"
    case "boolean" => "boolean"
    case "timestamp" => "timestamp"
    case "date" => "date"
    case _ => "string"
  }

  /** IPv4 literals and operators (reference functions/ipv4 — addresses
    * ride as dotted strings here, arithmetic goes through the numeric
    * form):
    *   - `ipv4 'A' <cmp> X` / `X <cmp> ipv4 'A'` compare numerically
    *   - `& | ^ + - ~` produce dotted addresses (mod 2^32)
    *   - `ip <<= 'net/cidr'` containment-or-equal, `<<` strict (and the
    *     mirrored `>>=` / `>>`)
    */
  private def ipv4Ops(q0: String, cat: graft.SessionCatalog): String = {
    val textualGate =
      """(?i)\bipv4\s+'|<<=?|>>=?|'(?:\d+\.){3}\d+(?:/\d+)?'\s*[&|^+\-]|[&|^]\s*'(?:\d+\.){3}\d+|\bin\s+'(?:\d+\.){3}\d+""".r
        .findFirstIn(q0).isDefined
    // bitwise ops over DECLARED ipv4 columns need no literal in the text
    // (IPv4Test `select ip & ip2 from test`)
    lazy val declGate = """[&|^~]""".r.findFirstIn(q0).isDefined && {
      val low = q0.toLowerCase
      """[A-Za-z_]\w*""".r.findAllIn(low).exists(w =>
        cat.declaredTypesOf(w).exists(_.startsWith("IPV4")))
    }
    if (!textualGate && !declGate &&
        !"""(?i)__ipv4_cast\(|\bas\s+ipv4\s*\)""".r.findFirstIn(q0).isDefined) return q0
    var s = q0
    // `col IN '<ip>'` is equality; `col IN '<net>/<cidr>'` is subnet
    // containment (reference EqIPv4StrFunctionFactory / the IN-string
    // form of containment)
    s = s.replaceAll("(?i)([\\w.]+)\\s+in\\s+('(?:\\d+\\.){3}\\d+/\\d+')", "$1 <<= $2")
    s = s.replaceAll("(?i)([\\w.]+)\\s+in\\s+('(?:\\d+\\.){3}\\d+')", "$1 = $2")
    def long(operand: String): String = {
      val t = operand.trim
      if (t.matches("-?\\d+")) t
      else if (t.startsWith("'")) s"ipv4_str_to_long($t)"
      else if (t.toUpperCase.startsWith("IPV4LIT(")) s"ipv4_str_to_long(${t.substring(8, t.length - 1)})"
      else s"ipv4_str_to_long($t)"
    }
    // normalize typed literals
    s = s.replaceAll("(?i)\\bipv4\\s+('(?:\\d+\\.){3}\\d+')", "IPV4LIT($1)")
    // containment against NULL is NULL (reference three-state here)
    s = s.replaceAll("(?i)([\\w.]+|'[^']*')\\s*(?:<<=|<<|>>=|>>)\\s*null\\b",
      "CAST(NULL AS BOOLEAN)")
    // containment: lhs op 'net/cidr' (and reversed)
    val contain = java.util.regex.Pattern.compile(
      "(?i)('[^']*'\\s*::\\s*\\w+|[\\w.]+|IPV4LIT\\('[^']*'\\)|'[^']*'|:\\w+|\\$\\d+)" +
        "\\s*(<<=|<<|>>=|>>)\\s*" +
        "('[^']*'\\s*::\\s*\\w+|[\\w.]+|IPV4LIT\\('[^']*'\\)|'[^']*'|:\\w+|\\$\\d+)")
    var m = contain.matcher(s)
    while (m.find()) {
      val (l, op, r) = (m.group(1), m.group(2), m.group(3))
      val (ip, net) = if (op.startsWith("<<")) (l, r) else (r, l)
      val netS = if (net.toUpperCase.startsWith("IPV4LIT(")) net.substring(8, net.length - 1) else net
      val strict = !op.endsWith("=")
      val base =
        s"(CASE WHEN instr($netS, '/') > 0 AND CAST(split_part($netS, '/', 2) AS INT) = 0 THEN true " +
          // a /0 prefix matches every address, null included (reference
          // IPv4Test containment against the whole space)
          s"WHEN instr($netS, '/') > 0 THEN " +
          // a null address is stored 0 and participates in the masked
          // compare (reference Numbers.IPV4_NULL; IPv4Test /1 subnets
          // whose masked prefix is 0 match the null row)
          s"((coalesce(${long(ip)}, 0) & __netmask_num($netS)) = (ipv4_str_to_long(split_part($netS, '/', 1)) & __netmask_num($netS)))" +
          (if (strict) " AND CAST(split_part($NET, '/', 2) AS INT) < 32".replace("$NET", netS) else "") +
          s" ELSE ${if (strict) "false" else s"(${long(ip)} = ipv4_str_to_long($netS))"} END)"
      s = s.substring(0, m.start()) + base + s.substring(m.end())
      m = contain.matcher(s)
    }
    // binary ops with at least one ipv4 side — operands may be typed
    // literals, dotted strings, declared columns, or cast calls
    // (`ip & cast(s as ipv4)`, IPv4Test:1081)
    val ipCall = "__ipv4_cast\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*\\)" +
      "|cast\\s*\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*?as\\s+ipv4\\s*\\)"
    val bin = java.util.regex.Pattern.compile(
      s"(?i)($ipCall|IPV4LIT\\('[^']*'\\)|'[^']*'|[\\w.]+)\\s*(>=|<=|!=|<>|=|<|>|&|\\||\\^|\\+|-)\\s*($ipCall|IPV4LIT\\('[^']*'\\)|'[^']*'|[\\w.]+)")
    var guard = 0
    var found = true
    while (found && guard < 64) {
      guard += 1
      found = false
      val mm = bin.matcher(s)
      while (!found && mm.find()) {
        val (l, op, r) = (mm.group(1), mm.group(2), mm.group(3))
        def dotted(x: String) = x.matches("'(\\d+\\.){3}\\d+(/\\d+)?'")
        def intLit(x: String) = x.matches("-?\\d+")
        // a bare identifier declared IPV4 in some in-session table is an
        // ip operand (string carrier — plain & would fail to type)
        def declIp(x: String) = x.matches("[\\w.]+") && !intLit(x) &&
          cat.declaredTypesOf(x.split('.').last.toLowerCase)
            .exists(_.startsWith("IPV4"))
        def ipish(x: String) = x.toUpperCase.startsWith("IPV4LIT(") || dotted(x) ||
          declIp(x) || x.toUpperCase.startsWith("__IPV4_CAST(") ||
          """(?is)^cast\s*\(.*as\s+ipv4\s*\)$""".r.findFirstIn(x).isDefined
        // plain dotted-quad string literals and declared ipv4 columns
        // engage the arithmetic ops (reference: '1.1.1.1' & '0.0.1.1')
        // — but never comparisons between strings, which stay lexical
        val arith = Set("&", "|", "^", "+", "-")(op)
        val hasLit = l.toUpperCase.startsWith("IPV4LIT(") || r.toUpperCase.startsWith("IPV4LIT(") ||
          (arith && ((ipish(l) && (ipish(r) || intLit(r))) ||
            (ipish(r) && (ipish(l) || intLit(l)))))
        if (hasLit) {
          found = true
          // ipv4 value 0 IS the reference's null (Numbers.IPv4_NULL) —
          // a null operand poisons arithmetic, and a 0 result renders
          // empty. __graft_col keeps reference column naming ('column'
          // for operator expressions) through AutoAlias.
          def ipNull(x: String): String = {
            val lx = long(x)
            if (x.toUpperCase.startsWith("IPV4LIT(") || !x.matches("-?\\d+|'[^']*'"))
              s"nullif($lx, 0)"
            else lx
          }
          def isIpOperand(x: String) = x.toUpperCase.startsWith("IPV4LIT(") ||
            x.matches("'(\\d+\\.){3}\\d+(/\\d+)?'")
          val repl = op match {
            case ">=" | "<=" | "=" | "!=" | "<>" | "<" | ">" =>
              // 0.0.0.0 IS the ipv4 null — a null side makes the
              // comparison null (prints false), IPv4Test:922
              def cmpSide(x: String) = if (ipish(x)) s"nullif(${long(x)}, 0)" else long(x)
              s"(${cmpSide(l)} $op ${cmpSide(r)})"
            case "&" | "|" | "^" =>
              s"__graft_col(ipv4_long_to_str((${long(l)} $op ${long(r)}) & 4294967295))"
            case "-" if isIpOperand(l) && isIpOperand(r) =>
              // ipv4 - ipv4 is the numeric distance (reference
              // IPv4MinusIPv4FunctionFactory returns LONG)
              s"__graft_col(${ipNull(l)} - ${ipNull(r)})"
            case "+" | "-" =>
              s"__graft_col(CASE WHEN (${ipNull(l)} $op ${ipNull(r)}) BETWEEN 1 AND 4294967295 " +
                s"THEN ipv4_long_to_str(${ipNull(l)} $op ${ipNull(r)}) END)"
          }
          s = s.substring(0, mm.start()) + repl + s.substring(mm.end())
        }
      }
    }
    // unary ~ and leftover bare literals
    s = s.replaceAll("(?i)~\\s*IPV4LIT\\('([^']*)'\\)",
      "__graft_col(ipv4_long_to_str(4294967295 ^ ipv4_str_to_long('$1')))")
    // unary ~ over a netmask() call or a declared-ipv4 column — only in
    // truly unary position (`a ~ 'pat'` is the regex-match operator)
    locally {
      val un = java.util.regex.Pattern.compile("(?i)~\\s*(netmask\\([^()]*\\)|[\\w.]+)")
      val um = un.matcher(s)
      val sb = new StringBuilder
      var last = 0
      while (um.find()) {
        val opnd = um.group(1)
        val prevText = s.substring(0, um.start()).reverse.dropWhile(_.isWhitespace).reverse
        val prev = prevText.lastOption
        // a preceding KEYWORD still leaves ~ in unary position
        // (`select ~ip`, `when ~ip`) — only an identifier/literal/paren
        // before it makes it the regex-match operator
        val prevWord = prevText.reverse.takeWhile(c =>
          Character.isLetterOrDigit(c) || c == '_').reverse.toLowerCase
        val kw = Set("select", "where", "and", "or", "not", "when", "then",
          "else", "on", "having", "by", "case", "in", "distinct", "all", "as")
        val unary = prev.forall(c => !Character.isLetterOrDigit(c) && c != '\'' && c != ')' && c != '`') ||
          kw(prevWord)
        val isNetmask = opnd.toLowerCase.startsWith("netmask(")
        val isIpCol = opnd.matches("[\\w.]+") && !opnd.matches("-?\\d+") &&
          cat.declaredTypesOf(opnd.split('.').last.toLowerCase)
            .exists(_.startsWith("IPV4"))
        sb.append(s.substring(last, um.start()))
        if (unary && (isNetmask || isIpCol))
          sb.append(s"__graft_col(ipv4_long_to_str(4294967295 ^ ipv4_str_to_long($opnd)))")
        else sb.append(um.group(0))
        last = um.end()
      }
      sb.append(s.substring(last))
      s = sb.toString
    }
    s = s.replaceAll("(?i)IPV4LIT\\(('[^']*')\\)", "$1")
    s
  }

  /** PG-shape UNNEST table functions (reference griffin UNNEST):
    * `FROM UNNEST(a1, a2)` zips arrays into value1/value2 columns;
    * `, UNNEST(t.arr) WITH ORDINALITY u(val, ord)` explodes with a
    * 1-based position. */
  private def unnestPg(q0: String): String = {
    var s = q0
    val reservedAlias = Set("with", "columns", "order", "group", "where", "limit",
      "sample", "union", "except", "intersect", "join", "left", "right",
      "inner", "cross", "on", "using", "lateral", "as", "having", "window", "latest")
    // un-correlated FROM position: `FROM UNNEST(exprs) [WITH ORDINALITY]
    // [[AS] alias[(cols)]]` — a derived table (reference griffin UNNEST
    // standalone form; default names value / value1..N / ordinality)
    val fromForm = java.util.regex.Pattern.compile(
      "(?is)\\bFROM\\s+UNNEST\\s*\\(\\s*((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*'|\\((?:[^()']|\\([^()]*\\))*\\))*\\))+?)\\s*\\)" +
        "(\\s+WITH\\s+ORDINALITY)?" +
        "(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*)\\s*(?:\\(\\s*([^()]+?)\\s*\\))?)?")
    var m = fromForm.matcher(s)
    var searchFrom = 0
    while (m.find(searchFrom)) {
      val exprs = splitBalancedCommas(m.group(1)).map(_.trim)
      val withOrd = m.group(2) != null
      val aliasOpt = Option(m.group(3)).filterNot(a => reservedAlias(a.toLowerCase))
      val colsOpt = if (aliasOpt.isEmpty) None else Option(m.group(4))
        .map(_.split(",").map(_.trim).toSeq)
      val defaults =
        if (exprs.length == 1) Seq("value") else exprs.indices.map(i => s"value${i + 1}")
      val cols = colsOpt.getOrElse(defaults) ++ (if (withOrd) Seq() else Seq())
      val vCols = cols.take(exprs.length)
      val oCol = if (withOrd) Some(cols.lift(exprs.length).getOrElse("ordinality")) else None
      val body =
        if (exprs.length == 1 && oCol.isEmpty) s"explode(${exprs.head}) AS ${vCols.head}"
        else {
          val struct =
            s"transform(sequence(1, ${if (exprs.length == 1) s"size(${exprs.head})"
              else s"greatest(${exprs.map(e => s"size($e)").mkString(", ")})"}), __i -> " +
              s"struct(${exprs.zip(vCols).map { case (e, c) => s"try_element_at($e, CAST(__i AS INT)) AS $c" }.mkString(", ")}" +
              oCol.map(o => s", __i AS $o").getOrElse("") + "))"
          s"inline($struct)"
        }
      val aliasSql = aliasOpt.map(a => s" $a").getOrElse("")
      val repl = s"FROM (SELECT $body)$aliasSql"
      val matchEnd = if (aliasOpt.isEmpty && m.group(3) != null)
        m.start(3) // the "alias" was really a clause keyword — keep it
      else m.end()
      s = s.substring(0, m.start()) + repl + s.substring(matchEnd)
      searchFrom = m.start() + repl.length
      m = fromForm.matcher(s)
    }
    // correlated WITH ORDINALITY: inline so the view's columns flatten
    // for SELECT * and resolve as alias.col
    val ord = java.util.regex.Pattern.compile(
      "(?is),\\s*UNNEST\\s*\\(\\s*((?:[^()']|'[^']*'|\\((?:[^()']|\\([^()]*\\))*\\))+?)\\s*\\)\\s+WITH\\s+ORDINALITY" +
        "(?:\\s+(?:AS\\s+)?(\\w+)\\s*(?:\\(\\s*(\\w+)\\s*,\\s*(\\w+)\\s*\\))?)?")
    m = ord.matcher(s)
    var ordFrom = 0
    while (m.find(ordFrom)) {
      val expr = m.group(1)
      val aliasOpt = Option(m.group(2)).filterNot(a => reservedAlias(a.toLowerCase))
      val (vcol, ocol) =
        if (aliasOpt.isDefined && m.group(3) != null) (m.group(3), m.group(4))
        else ("value", "ordinality")
      val alias = aliasOpt.getOrElse("__unnest_ord")
      val matchEnd = if (aliasOpt.isEmpty && m.group(2) != null) m.start(2) else m.end()
      val repl = s" LATERAL VIEW inline(transform($expr, (__x, __i) ->" +
        s" struct(__x, __i + 1))) $alias AS $vcol, $ocol"
      s = s.substring(0, m.start()) + repl + s.substring(matchEnd)
      ordFrom = m.start() + repl.length
      m = ord.matcher(s)
    }
    // `, UNNEST(expr) [AS] u(col)` / `, UNNEST(expr) [AS] u` — single
    // correlated array unnest with an alias (reference griffin UNNEST):
    // LATERAL VIEW explode keeps outer columns in scope, and `u.col`
    // resolves against the view alias
    // correlated multi-array zip with alias + column list:
    // `, UNNEST(a, b) u(x, y)` — one struct row per zipped slot, the
    // alias IS the struct so `u.x` resolves (reference griffin UNNEST)
    val multi = java.util.regex.Pattern.compile(
      "(?is),\\s*UNNEST\\s*\\(\\s*((?:[^()']|'[^']*'|\\((?:[^()']|\\([^()]*\\))*\\))+?)\\s*\\)\\s*" +
        "(?:AS\\s+)?([A-Za-z_]\\w*)\\s*(?:\\(\\s*([^()]+)\\s*\\))?" +
        "(?!\\s*\\()(?!\\s+(?:WITH|COLUMNS)\\b)")
    m = multi.matcher(s)
    while (m.find()) {
      val exprs = splitBalancedCommas(m.group(1)).map(_.trim)
      // a shorter column list pads with the positional defaults
      // (reference UNNEST(a, b) u(x) → columns x, value2)
      val given = Option(m.group(3)).map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
      val cols0 = exprs.indices.map(i => given.lift(i).getOrElse(s"value${i + 1}"))
      if (exprs.length < 2 || reservedAlias(m.group(2).toLowerCase))
        m.region(m.end(), s.length)
      else {
        val alias = m.group(2)
        def bq(c: String) =
          if (c.startsWith("\"") || c.startsWith("`"))
            "`" + c.substring(1, c.length - 1) + "`" else c
        val cols = cols0.map(bq)
        // index over the longest array, null-padding the shorter ones;
        // inline flattens the struct so SELECT * and alias.col both work
        val body =
          s"transform(sequence(1, greatest(${exprs.map(e => s"size($e)").mkString(", ")})), __i -> " +
            s"struct(${exprs.zip(cols).map { case (e, c) => s"try_element_at($e, CAST(__i AS INT)) AS $c" }.mkString(", ")}))"
        val repl = s" LATERAL VIEW inline($body) $alias AS ${cols.mkString(", ")}"
        s = s.substring(0, m.start()) + repl + s.substring(m.end())
        m = multi.matcher(s)
      }
    }
    val single = java.util.regex.Pattern.compile(
      "(?is),\\s*UNNEST\\s*\\(\\s*((?:[^()']|'[^']*'|\\((?:[^()']|\\([^()]*\\))*\\))+?)\\s*\\)\\s*" +
        "(?:AS\\s+)?([A-Za-z_]\\w*)\\s*(?:\\(\\s*(\"[^\"]+\"|`[^`]+`|'[^']+'|[A-Za-z_]\\w*)\\s*\\))?" +
        "(?!\\s*\\()(?!\\s+(?:WITH|COLUMNS)\\b)")
    m = single.matcher(s)
    while (m.find()) {
      val expr = m.group(1)
      val reserved = Set("with", "columns", "order", "group", "where", "limit",
        "sample", "union", "except", "intersect", "join", "left", "right",
        "inner", "cross", "on", "lateral", "as", "having", "window", "latest")
      if (splitBalancedCommas(expr).length != 1 ||
          reserved(m.group(2).toLowerCase)) m.region(m.end(), s.length)
      else {
        val alias = m.group(2)
        // no column list → PG/reference default column name `value`
        val col0 = Option(m.group(3)).getOrElse("value")
        val col = if (col0.startsWith("\"") || col0.startsWith("`") || col0.startsWith("'"))
          "`" + col0.substring(1, col0.length - 1) + "`" else col0
        // dotted column names ride a struct field (LATERAL VIEW's AS
        // list mis-handles backticked dots; struct fields don't)
        val repl =
          if (col.startsWith("`") && col.contains("."))
            s" LATERAL VIEW inline(transform($expr, __x -> struct(__x AS $col))) $alias"
          else s" LATERAL VIEW explode($expr) $alias AS $col"
        s = s.substring(0, m.start()) + repl + s.substring(m.end())
        m = single.matcher(s)
      }
    }
    // aliasless correlated form: `FROM t, UNNEST(t.arr)` → PG default
    // column name `value`
    val bare = java.util.regex.Pattern.compile(
      "(?is),\\s*UNNEST\\s*\\(\\s*((?:[^()']|'[^']*'|\\((?:[^()']|\\([^()]*\\))*\\))+?)\\s*\\)" +
        "(?!\\s*\\()(?!\\s*(?:AS\\b|WITH\\b|COLUMNS\\b))")
    m = bare.matcher(s)
    while (m.find()) {
      val expr = m.group(1)
      // only when the single form above left it untouched (no alias
      // follows — next word is a clause keyword or end)
      val after = s.substring(m.end()).trim.takeWhile(c => c.isLetter).toLowerCase
      val clause = Set("", "where", "order", "group", "limit", "union",
        "intersect", "except", "having", "sample", "latest", "window")
      if (splitBalancedCommas(expr).length != 1 || !clause(after)) m.region(m.end(), s.length)
      else {
        val repl = s" LATERAL VIEW explode($expr) __unnest AS value"
        s = s.substring(0, m.start()) + repl + s.substring(m.end())
        m = bare.matcher(s)
      }
    }
    // multi-array zip form in FROM position
    val zip = java.util.regex.Pattern.compile(
      "(?is)\\b(FROM\\s+)UNNEST\\s*\\(((?:[^()']|'[^']*'|\\([^()]*\\))*)\\)(?!\\s*(?:WITH|COLUMNS))")
    m = zip.matcher(s)
    while (m.find()) {
      val args = splitBalancedCommas(m.group(2)).map(_.trim).filter(_.nonEmpty)
      if (args.length < 2) { m.region(m.end(), s.length) }
      else {
        val sizes = args.map(a => s"size($a)").mkString(", ")
        val cols = args.zipWithIndex.map { case (a, i) =>
          s"element_at($a, __i) AS value${i + 1}" }.mkString(", ")
        val repl = s"${m.group(1)}(SELECT $cols FROM (SELECT explode(sequence(1, greatest($sizes))) AS __i))"
        s = s.substring(0, m.start()) + repl + s.substring(m.end())
        m = zip.matcher(s)
      }
    }
    s
  }

  /** `LIMIT lo,hi` below the top level → `LIMIT hi-lo OFFSET lo` (Spark
    * word order). Depth-0 occurrences are left for the range-limit
    * operator form, which also handles negative bounds. */
  private def limitRangeInner(q: String): String = {
    val pat = java.util.regex.Pattern.compile(
      "(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)\\b")
    val m = pat.matcher(q)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      var depth = 0
      var i = 0
      while (i < m.start()) {
        q.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '\'' => var j = i + 1; while (j < q.length && q.charAt(j) != '\'') j += 1; i = j
          case _ =>
        }
        i += 1
      }
      sb.append(q.substring(last, m.start()))
      if (depth > 0) {
        val lo = m.group(1).toLong; val hi = m.group(2).toLong
        sb.append(s"LIMIT ${math.max(hi - lo, 0)} OFFSET $lo")
      } else sb.append(m.group(0))
      last = m.end()
    }
    sb.append(q.substring(last))
    sb.toString
  }

  private def splitBalancedCommas(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => var j = i + 1; while (j < s.length && s.charAt(j) != '\'') j += 1; i = j
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Named WINDOW clause fixups Spark cannot parse (reference SqlParser
    * named-window extensions):
    *  - inheritance: `WINDOW w1 AS (...), w2 AS (w1 ROWS ...)` — splice
    *    the referenced definition's body;
    *  - ANCHOR EXPRESSION e / ANCHOR DAILY 'HH:mm' ['tz'] — the
    *    reference resets window state when the anchor value changes
    *    (SqlParser.desugarDailyAnchor), which is exactly an extra
    *    PARTITION BY key;
    *  - reserved definition names (`WINDOW window AS ...`) renamed.
    */
  /** Window EXCLUDE CURRENT ROW (reference window framing):
    *   - a ROWS frame ending at CURRENT ROW shifts its end to 1
    *     PRECEDING (same set, WindowFunctionTest:10138)
    *   - a frame already ending before the current row is unchanged
    *   - a RANGE frame ending at CURRENT ROW keeps the current row's
    *     PEERS but drops the row itself — decompose sum/count/avg as
    *     frame-total minus the current row's contribution
    *     (WindowExcludeCurrentRowTest).
    */
  private def excludeCurrentRow(q0: String): String = {
    if ("""(?i)EXCLUDE\s+(CURRENT\s+ROW|NO\s+OTHERS)""".r.findFirstIn(q0).isEmpty) return q0
    var q = q0
    q = q.replaceAll("(?i)\\s+EXCLUDE\\s+NO\\s+OTHERS", "")
    q = q.replaceAll(
      "(?i)(ROWS\\s+BETWEEN\\s+(?:\\d+|UNBOUNDED)\\s+PRECEDING\\s+AND)\\s+CURRENT\\s+ROW\\s+EXCLUDE\\s+CURRENT\\s+ROW",
      "$1 1 PRECEDING")
    q = q.replaceAll(
      "(?i)((?:ROWS|RANGE)\\s+BETWEEN\\s+(?:\\d+|UNBOUNDED)\\s*\\w*\\s+PRECEDING\\s+AND\\s+\\d+\\s*\\w*\\s+PRECEDING)\\s+EXCLUDE\\s+CURRENT\\s+ROW",
      "$1")
    // For a RANGE frame ending at CURRENT ROW, the reference's EXCLUDE
    // CURRENT ROW drops the current row's entire tie group — the frame's
    // high bound becomes exclusive of the current designated-ts value
    // (WindowExcludeCurrentRowTest.java:99 "row 3 sees only row 1 under
    // RANGE but rows 1 and 2 under ROWS"). Spark expresses the tie group
    // as RANGE BETWEEN CURRENT ROW AND CURRENT ROW, so decompose each
    // aggregate as frame-total minus peer-group-total.
    def peersOf(body: String): String = {
      // word-bounded: a bare indexOf would match inside identifiers
      // (PARTITION BY price_range ORDER BY ts RANGE …) and truncate the
      // spec mid-identifier
      val idx = """(?i)\bRANGE\s+(?:BETWEEN\b|\d|UNBOUNDED\b|CURRENT\b)""".r
        .findFirstMatchIn(body).map(_.start).getOrElse(-1)
      val prefix = if (idx >= 0) body.substring(0, idx) else body
      s"($prefix RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
    }
    def decomp(agg: String, arg: String, over: String, peers: String): String = {
      val a = arg.trim
      agg.toLowerCase match {
        case "count" if a == "*" => s"(count(*) OVER $over - count(*) OVER $peers)"
        case "count" =>
          s"(count($a) OVER $over - count($a) OVER $peers)"
        case "avg" =>
          s"((sum($a) OVER $over - coalesce(sum($a) OVER $peers, 0))" +
            s" / nullif(count($a) OVER $over - count($a) OVER $peers, 0))"
        case _ =>
          // NULL when the excluded set has no non-null contributor: covers
          // the single-row frame AND the all-NULL-peers frame (sum over an
          // all-NULL set is NULL, not 0 — WindowExcludeCurrentRowTest:138)
          s"(CASE WHEN count($a) OVER $over - count($a) OVER $peers = 0 THEN NULL" +
            s" ELSE sum($a) OVER $over - coalesce(sum($a) OVER $peers, 0) END)"
      }
    }
    // named windows: clean the definition, decompose each use
    val defRe =
      """(?i)\b(\w+)\s+AS\s*\(\s*([^()]*?RANGE[^()]*?CURRENT\s+ROW)\s+EXCLUDE\s+CURRENT\s+ROW\s*\)""".r
    val excludedDefs = defRe.findAllMatchIn(q).map(m => m.group(1) -> m.group(2)).toList
    q = defRe.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(s"${m.group(1)} AS (${m.group(2)})"))
    excludedDefs.foreach { case (n, body) =>
      val useRe = ("(?i)\\b(sum|count|avg)\\s*\\(\\s*([^()*]*|\\*)\\s*\\)\\s+OVER\\s+" + n + "\\b").r
      q = useRe.replaceAllIn(q, m =>
        java.util.regex.Matcher.quoteReplacement(decomp(m.group(1), m.group(2), n, peersOf(body))))
    }
    // inline RANGE-to-current specs
    val inlineRe =
      """(?i)\b(sum|count|avg)\s*\(\s*([^()*]*|\*)\s*\)\s+OVER\s*\(\s*([^()]*?RANGE[^()]*?CURRENT\s+ROW)\s+EXCLUDE\s+CURRENT\s+ROW\s*\)""".r
    q = inlineRe.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(
        decomp(m.group(1), m.group(2), s"(${m.group(3)})", peersOf(m.group(3)))))
    q
  }

  private def namedWindows(q0: String): String = {
    val kw = java.util.regex.Pattern.compile(
      "(?i)\\bWINDOW\\s+(?!JOIN\\b)[A-Za-z_]\\w*\\s+AS\\s*\\(")
    var q = q0
    var guard = 0
    var km = kw.matcher(q)
    var searchFrom = 0
    while (km.find(searchFrom) && guard < 16) {
      guard += 1
      val clauseStart = km.start()
      // parse consecutive `name AS (body)` definitions
      val defs = scala.collection.mutable.LinkedHashMap[String, String]()
      val defRe = java.util.regex.Pattern.compile(
        "(?is)\\s*,?\\s*([A-Za-z_]\\w*)\\s+AS\\s*\\(")
      var pos = clauseStart + "WINDOW".length
      var parsing = true
      while (parsing) {
        val dm = defRe.matcher(q)
        dm.region(pos, q.length)
        if (dm.lookingAt()) {
          var depth = 0; var j = dm.end() - 1; var close = -1
          while (j < q.length && close < 0) {
            q.charAt(j) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) close = j
              case _ =>
            }
            j += 1
          }
          if (close < 0) parsing = false
          else { defs(dm.group(1)) = q.substring(dm.end(), close); pos = close + 1 }
        } else parsing = false
      }
      if (defs.isEmpty) { searchFrom = km.end(); km = kw.matcher(q) }
      else {
        var changed = false
        val renames = scala.collection.mutable.Map[String, String]()
        val sparkReserved = Set("window", "rows", "range", "order", "partition",
          "groups", "over", "select", "from", "where", "group", "limit")
        val out = scala.collection.mutable.LinkedHashMap[String, String]()
        defs.foreach { case (name0, body0) =>
          var body = body0
          // inheritance: body starts with an earlier definition's name
          val inh = "(?is)^\\s*([A-Za-z_]\\w*)\\b(.*)$".r
          body match {
            case inh(ref, rest) if out.contains(ref) || defs.contains(ref) =>
              if (!ref.equalsIgnoreCase("partition") && !ref.equalsIgnoreCase("order") &&
                  !ref.equalsIgnoreCase("rows") && !ref.equalsIgnoreCase("range") &&
                  !ref.equalsIgnoreCase("groups")) {
                // standard inheritance: the refining spec's ORDER BY /
                // frame replace the base's, the PARTITION BY carries over
                val base = out.getOrElse(ref, defs(ref))
                def piece(t: String, re: String): Option[String] =
                  re.r.findFirstMatchIn(t).map(_.group(1).trim)
                val part = "(?is)(PARTITION\\s+BY\\s+.*?)(?=ORDER\\s+BY|ROWS\\b|RANGE\\b|GROUPS\\b|$)"
                val ord = "(?is)(ORDER\\s+BY\\s+.*?)(?=ROWS\\b|RANGE\\b|GROUPS\\b|$)"
                val frame = "(?is)((?:ROWS|RANGE|GROUPS)\\b.*)$"
                val r = rest.trim
                body = Seq(
                  piece(r, part).orElse(piece(base, part)),
                  piece(r, ord).orElse(piece(base, ord)),
                  piece(r, frame).orElse(piece(base, frame))
                ).flatten.mkString(" ")
                changed = true
              }
            case _ =>
          }
          // ANCHOR clauses → extra partition key
          val anchorE = "(?is)^(.*?)\\bANCHOR\\s+EXPRESSION\\s+(.+?)\\s*$".r
          val anchorD = "(?is)^(.*?)\\bANCHOR\\s+DAILY\\s+('[^']+')(?:\\s+('[^']*'|[\\w/._+-]+))?\\s*$".r
          val anchorKey: Option[String] = body match {
            case anchorD(pre, hhmm, tz) =>
              body = pre.trim
              val ts = "(?is)\\bORDER\\s+BY\\s+([\\w.]+)".r.findFirstMatchIn(body)
                .map(_.group(1)).getOrElse("ts")
              val tzLit = Option(tz).map(t => if (t.startsWith("'")) t else s"'$t'")
              Some(tzLit match {
                case Some(z) => s"timestamp_floor('1d', $ts, null, $hhmm, $z)"
                case None => s"timestamp_floor('1d', $ts, null, $hhmm)"
              })
            case anchorE(pre, e) => body = pre.trim; Some(e)
            case _ => None
          }
          anchorKey.foreach { k =>
            changed = true
            body =
              if ("(?i)\\bPARTITION\\s+BY\\b".r.findFirstIn(body).isDefined)
                body.replaceAll("(?i)\\bPARTITION\\s+BY\\b", s"PARTITION BY $k,")
              else s"PARTITION BY $k " + body
          }
          val name = if (sparkReserved(name0.toLowerCase)) {
            changed = true; renames(name0) = name0 + "_w_"; name0 + "_w_"
          } else name0
          out(name) = body
        }
        // `OVER MyWindow` must match a `WINDOW mywindow AS` definition —
        // Spark resolves named windows case-sensitively, the reference
        // doesn't; normalize references to the defined spelling
        var caseFixed = q
        out.keys.foreach { n =>
          caseFixed = caseFixed.replaceAll(s"(?i)\\bOVER\\s+$n\\b",
            java.util.regex.Matcher.quoteReplacement(s"OVER $n"))
        }
        if (caseFixed != q) { q = caseFixed; changed = true }
        if (!changed) { searchFrom = pos; km = kw.matcher(q) }
        else {
          val rebuilt = q.substring(0, clauseStart) + "WINDOW " +
            out.map { case (n, b) => s"$n AS ($b)" }.mkString(", ") + q.substring(pos)
          q = renames.foldLeft(rebuilt) { case (s, (from, to)) =>
            s.replaceAll(s"(?i)\\bOVER\\s+$from\\b", s"OVER $to")
          }
          searchFrom = 0
          km = kw.matcher(q)
        }
      }
    }
    q
  }

  /** Select-item aliases referenced inside a window spec (`d.y AS z …
    * OVER (ORDER BY z)`) — the reference resolves them, Spark doesn't.
    * Substitute the defining expression into the spec. */
  private def windowSpecAliases(q0: String): String = {
    if (!"""(?i)\bover\s*\(""".r.findFirstIn(q0).isDefined) return q0
    val m0 = """(?is)^\s*SELECT\s+(?:DISTINCT\s+)?(.*?)\s+FROM\s""".r
      .findFirstMatchIn(q0).getOrElse(return q0)
    val items = QuestSql.splitSelect(m0.group(1))
    val defs = items.flatMap { it =>
      """(?is)^(.*?)\s+(?:AS\s+)?([A-Za-z_]\w*)\s*$""".r.findFirstMatchIn(it)
        .filterNot(m => Set("asc", "desc", "nulls", "first", "last", "end")(m.group(2).toLowerCase))
        .map(m => m.group(2) -> m.group(1).trim)
    }.filter { case (a, e) =>
      !e.equalsIgnoreCase(a) && !e.toLowerCase.endsWith("." + a.toLowerCase) &&
        !"""(?i)\bover\b""".r.findFirstIn(e).isDefined &&
        !"""(?i)\b(count|sum|avg|min|max|first|last)\s*\(""".r.findFirstIn(e).isDefined
    }.toMap
    if (defs.isEmpty) return q0
    val pat = java.util.regex.Pattern.compile("(?is)\\bOVER\\s*\\(")
    var s = q0
    var search = 0
    var m = pat.matcher(s)
    while (m.find(search)) {
      var depth = 0; var i = m.end() - 1; var close = -1
      while (i < s.length && close < 0) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      if (close < 0) return s
      var spec = s.substring(m.end(), close)
      defs.foreach { case (a, e) =>
        spec = spec.replaceAll(s"(?i)(?<![.\\w`])${java.util.regex.Pattern.quote(a)}\\b(?!\\s*\\()",
          java.util.regex.Matcher.quoteReplacement(s"($e)"))
      }
      s = s.substring(0, m.end()) + spec + s.substring(close)
      search = m.end() + spec.length + 1
      m = pat.matcher(s)
    }
    s
  }

  /** `sum(<window call>) OVER (...)` — a window aggregate over another
    * window function's result (reference allows nesting; Spark doesn't).
    * Hoist the inner expression into a derived table and aggregate the
    * hoisted column (WindowFunctionTest nested-window cases). Select
    * aliases referenced by the inner expression are substituted so the
    * hoisted expression resolves against the base table. */
  private[sql] def nestedWindows(q0: String): String = {
    if ("(?i)\\bover\\b".r.findAllIn(q0).size < 2) return q0
    val m0 = """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+(.*)$""".r.findFirstMatchIn(q0)
      .getOrElse(return q0)
    val (selText, fromText) = (m0.group(1), m0.group(2))
    if ("""(?i)\b(group\s+by|sample\s+by|union|intersect|except)\b""".r
        .findFirstIn(q0).isDefined) return q0
    if (fromText.contains("(")) return q0 // keep to simple FROMs
    // locate outer agg calls whose args contain a window call
    val aggPat = java.util.regex.Pattern.compile("(?i)\\b(sum|avg|min|max|count|first|last)\\s*\\(")
    val items = QuestSql.splitSelect(selText)
    // a name that exists as a COLUMN of the source table resolves to the
    // table column inside the hoisted window, NOT to a same-named select
    // alias (reference: "the inner window model must expose the
    // underlying literal" — WindowFunctionTest:10830 `id as a, sum(a)
    // OVER ()` sums table a, not id)
    val tableCols: Set[String] = try {
      org.apache.spark.sql.SparkSession.getActiveSession.map { sp =>
        sp.table(fromText.trim.split("\\s+").head)
          .columns.map(_.toLowerCase).toSet
      }.getOrElse(Set.empty)
    } catch { case _: Exception => Set.empty[String] }
    val aliasDefs = items.flatMap { it =>
      """(?is)^(.*?)\s+(?:AS\s+)?([A-Za-z_]\w*)\s*$""".r.findFirstMatchIn(it)
        .filterNot(m => Set("asc", "desc", "nulls", "first", "last", "end")(m.group(2).toLowerCase))
        .filterNot(m => tableCols(m.group(2).toLowerCase))
        .map(m => m.group(2) -> m.group(1).trim)
    }.toMap
    var hoisted = scala.collection.mutable.LinkedHashMap[String, String]()
    var counter = 0
    def rewriteItem(item: String): String = {
      var s = item
      var moved = true
      while (moved) {
        moved = false
        val am = aggPat.matcher(s)
        var found = false
        while (!found && am.find()) {
          val open = s.indexOf('(', am.start())
          var depth = 0; var j = open; var close = -1
          while (j < s.length && close < 0) {
            s.charAt(j) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) close = j
              case _ =>
            }
            j += 1
          }
          if (close > 0 &&
              """(?i)\bover\b""".r.findFirstIn(s.substring(open, close)).isDefined &&
              """(?i)^\s*over\b""".r.findFirstIn(s.substring(close + 1)).isDefined) {
            var inner = s.substring(open + 1, close)
            // resolve select aliases used by the hoisted expression
            aliasDefs.foreach { case (a, e) =>
              if (!e.equalsIgnoreCase(a))
                inner = inner.replaceAll(s"(?i)(?<![.\\w`])${java.util.regex.Pattern.quote(a)}\\b(?!\\s*\\()",
                  java.util.regex.Matcher.quoteReplacement(e))
            }
            val name = hoisted.collectFirst { case (n, e) if e == inner => n }
              .getOrElse { counter += 1; val n = s"__gw$counter"; hoisted(n) = inner; n }
            s = s.substring(0, open + 1) + name + s.substring(close)
            found = true; moved = true
          }
        }
      }
      s
    }
    val newItems = items.map(rewriteItem)
    if (hoisted.isEmpty) return q0
    val sub = "SELECT *, " +
      hoisted.map { case (n, e) => s"$e AS $n" }.mkString(", ") +
      s" FROM $fromText"
    s"SELECT ${newItems.mkString(", ")} FROM ($sub)"
  }

  /** Frames whose start bound sits after the end bound (`ROWS BETWEEN 1
    * PRECEDING AND 2 PRECEDING`) are legal in the reference and yield
    * NULL for every row; Spark rejects them at analysis. Rewrite the
    * whole windowed call to a never-taken CASE that keeps the result
    * type from a valid default frame. */
  /** The reference parser takes unquoted unicode identifiers; Spark's
    * temp-view names cannot even be CREATED with them. Mangle every
    * non-ASCII identifier to the reversible ASCII form `__ux<hex>`
    * ([[graft.sql.RefText]] demangles on output), skipping quoted
    * strings and backquoted spans (whose content mangles too — the
    * backquotes only marked the identifier). */
  private[sql] def quoteUnicodeIdents(q0: String): String = {
    if (!q0.exists(_ > 127.toChar)) return q0
    val sb = new StringBuilder
    var i = 0
    def mangle(word: String): String =
      if (word.exists(_ > 127.toChar))
        "__ux" + word.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
      else word
    while (i < q0.length) {
      q0.charAt(i) match {
        case '\'' =>
          var j = i + 1
          while (j < q0.length && q0.charAt(j) != '\'') j += 1
          sb.append(q0.substring(i, math.min(j + 1, q0.length))); i = j + 1
        case '`' =>
          var j = i + 1
          while (j < q0.length && q0.charAt(j) != '`') j += 1
          val inner = q0.substring(i + 1, math.min(j, q0.length))
          if (inner.exists(_ > 127.toChar)) sb.append(mangle(inner))
          else sb.append(q0.substring(i, math.min(j + 1, q0.length)))
          i = j + 1
        case c if Character.isLetterOrDigit(c) || c == '_' || c > 127.toChar =>
          // any >127 char joins the identifier run — emoji and combining
          // marks are not isLetterOrDigit but are legal reference ident
          // chars (CopyExportTest `table❤️`)
          var j = i
          while (j < q0.length && (Character.isLetterOrDigit(q0.charAt(j)) ||
              q0.charAt(j) == '_' || q0.charAt(j) > 127.toChar))
            j += 1
          sb.append(mangle(q0.substring(i, j)))
          i = j
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** lag/lead take (and ignore) frame clauses in the reference; Spark
    * rejects them — strip the frame from their OVER spec. */
  private def lagLeadFrames(q0: String): String = {
    if (!"""(?i)\b(lag|lead|row_number|rank|dense_rank|ntile)\s*\(""".r.findFirstIn(q0).isDefined) return q0
    val pat = java.util.regex.Pattern.compile(
      "(?is)\\b(lag|lead|row_number|rank|dense_rank|ntile)\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)" +
        "((?:\\s+(?:IGNORE|RESPECT)\\s+NULLS)?\\s+OVER\\s*\\()([^()]*)\\)")
    val m = pat.matcher(q0)
    val sb = new StringBuffer
    while (m.find()) {
      val spec = m.group(4).replaceAll(
        "(?is)\\s*(?:ROWS|RANGE|GROUPS)\\s+(?:BETWEEN\\s+.*?|UNBOUNDED\\s+PRECEDING|CURRENT\\s+ROW|\\S+\\s+PRECEDING)\\s*$", "")
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)}(${m.group(2)})${m.group(3)}$spec)"))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** `first_value`/`last_value` over sliding time-RANGE frames
    * (`RANGE [BETWEEN] K PRECEDING [AND CURRENT ROW]`) → the O(n)
    * running-frame aggregates in [[graft.functions.RangeWindow]].
    *
    * Spark's SlidingWindowFunctionFrame re-aggregates the whole frame
    * buffer whenever the lower bound moves — O(rows × frame), which
    * times out on the reference's 400k-row window tests (and would be a
    * scale-killer on any real time series). The replacement runs the
    * same semantics over `RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT
    * ROW` (incremental in Spark, peers included per RANGE semantics)
    * with the in-frame pruning done inside the aggregate's deque —
    * reference `functions/window/FirstValueDoubleWindowFunctionFactory
    * .java` uses the same ring-buffer scheme.
    *
    * Invoked from QuestSql AFTER AutoAlias so the reference default
    * column names (`first_value`, `first_value_ignore_nulls`, …) are
    * already pinned as explicit aliases. Expects timeRangeFrames to
    * have normalized the order key (unix_micros-wrapped) and the bound
    * (plain µs integer). DESC order is handled by negating the key fed
    * to the aggregate.
    */
  def slidingValueFrames(q0: String, cat: graft.SessionCatalog): String = {
    if (!"""(?i)\brange\s+(?:between\s+\d+\s+preceding\s+and\s+current\s+row|\d+\s+preceding)"""
        .r.findFirstIn(q0).isDefined) return q0
    // tokens: paren nesting with quoted strings. Depth 6: a
    // timestamp_ns order key arrives here already normalized by
    // timeRangeFrames into a CASE WHEN typeof(..) .. unix_micros(CASE
    // .. timestamp_micros(cast(..)) ..) expression — five levels deep.
    // A too-shallow token regex silently SKIPS the rewrite and the
    // sliding min/max stays on Spark's SlidingWindowFunctionFrame,
    // which re-aggregates the whole buffer per row: O(rows × frame),
    // a timeout on the reference's 400k-row ns window cases.
    def nest(d: Int): String =
      if (d == 0) "(?:[^()']|'[^']*')"
      else s"(?:[^()']|'[^']*'|\\(${nest(d - 1)}*\\))"
    val n2 = nest(6)
    val pat = java.util.regex.Pattern.compile(
      "(?i)\\b(first_value|last_value|min|max)\\s*\\(\\s*(" + n2 + "+?)\\s*\\)\\s*" +
        "(?:(ignore|respect)\\s+nulls\\s*)?" +
        "over\\s*\\(\\s*((?:partition\\s+by\\s+" + n2 + "+?\\s+)?)" +
        "order\\s+by\\s+(" + n2 + "+?)(\\s+asc|\\s+desc)?\\s+" +
        "range\\s+(?:between\\s+(\\d+)\\s+preceding\\s+and\\s+current\\s+row|(\\d+)\\s+preceding)\\s*\\)")
    val m = pat.matcher(q0)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val fn = m.group(1).toLowerCase
      val arg = m.group(2)
      val ig = m.group(3) != null && m.group(3).equalsIgnoreCase("ignore")
      val part = m.group(4)
      val key = m.group(5)
      val desc = m.group(6) != null && m.group(6).trim.equalsIgnoreCase("desc")
      val bound = Option(m.group(7)).getOrElse(m.group(8))
      val mode = fn match {
        case "first_value" => if (ig) "first_in" else "first"
        case "last_value"  => if (ig) "last_in" else "last"
        case other => // min | max: string-carrier decimals (p > 38)
          // need numeric order, not the carrier's lexicographic one
          val wideDec = arg.trim.matches("[\\w.]+") &&
            cat.declaredTypesOf(arg.trim.split('.').last.toLowerCase)
              .exists(t => """(?i)^DECIMAL\s*\(\s*(\d+)""".r
                .findFirstMatchIn(t).exists(_.group(1).toInt > 38))
          if (wideDec) other + "_dec" else other
      }
      val keyArg = if (desc) s"(0 - ($key))" else s"($key)"
      val repl = s"__w_slide(($arg), CAST($keyArg AS BIGINT), ${bound}L, '$mode') " +
        s"OVER (${part}ORDER BY $key${if (desc) " DESC" else ""} " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(repl))
    }
    m.appendTail(sb)
    sb.toString
  }

  private def emptyFrames(q0: String): String = {
    val unitUs = Map("microsecond" -> 1L, "millisecond" -> 1000L,
      "second" -> 1000000L, "minute" -> 60000000L, "hour" -> 3600000000L,
      "day" -> 86400000000L)
    val bound = "'?(\\d+)'?(?:\\s+(microsecond|millisecond|second|minute|hour|day)s?)?"
    val pat = java.util.regex.Pattern.compile(
      "(?is)([\\w.]+\\s*\\((?:[^()]|\\([^()]*\\))*\\)(?:\\s+(?:IGNORE|RESPECT)\\s+NULLS)?)" +
        "\\s+OVER\\s*\\(([^()]*?)\\s*(?:ROWS|GROUPS|RANGE)\\s+BETWEEN\\s+" +
        bound + "\\s+(PRECEDING|FOLLOWING)\\s+AND\\s+" + bound +
        "\\s+(PRECEDING|FOLLOWING)\\s*([^()]*)\\)")
    var s = q0
    var m = pat.matcher(s)
    var guard = 0
    while (m.find() && guard < 64) {
      guard += 1
      def us(n: String, u: String): Long =
        n.toLong * Option(u).map(x => unitUs(x.toLowerCase)).getOrElse(1L)
      val (lo, d1, hi, d2) = (us(m.group(3), m.group(4)), m.group(5).toUpperCase,
        us(m.group(6), m.group(7)), m.group(8).toUpperCase)
      val empty = (d1, d2) match {
        case ("PRECEDING", "PRECEDING") => lo < hi
        case ("FOLLOWING", "FOLLOWING") => lo > hi
        case ("FOLLOWING", "PRECEDING") => true
        case _ => false
      }
      if (empty) {
        val spec = (m.group(2) + " " + m.group(9)).trim
        s = s.substring(0, m.start()) +
          s"CASE WHEN 1=0 THEN ${m.group(1)} OVER ($spec) END" +
          s.substring(m.end())
        m = pat.matcher(s)
      } // non-empty frames stay; the matcher continues past this site
    }
    s
  }

  /** Window RANGE frames with time-unit bounds (reference
    * `ORDER BY ts RANGE BETWEEN 180 second PRECEDING AND CURRENT ROW`):
    * Spark needs a numeric order key, so the bound becomes microseconds
    * and the frame's ORDER BY key is wrapped in unix_micros(). */
  private def timeRangeFrames(q0: String, cat: graft.SessionCatalog): String = {
    val unitUs = Map("microsecond" -> 1L, "millisecond" -> 1000L,
      "second" -> 1000000L, "minute" -> 60000000L, "hour" -> 3600000000L,
      "day" -> 86400000000L)
    val bound = java.util.regex.Pattern.compile(
      "(?i)'?(\\d+)'?\\s+(microsecond|millisecond|second|minute|hour|day)s?\\s+(PRECEDING|FOLLOWING)")
    var s = q0
    val hasUnit = bound.matcher(s).find()
    val hasBareRange =
      """(?is)\bRANGE\s+(?:BETWEEN\s+)?\d+\s+(?:PRECEDING|FOLLOWING)""".r.findFirstIn(s).isDefined ||
        """(?is)\bRANGE\s+BETWEEN\s+(?:UNBOUNDED\s+PRECEDING|CURRENT\s+ROW)\s+AND\s+\d+\s+""".r.findFirstIn(s).isDefined
    if (!hasUnit && !hasBareRange) return s
    // step 1: time bound → marked micros literal
    s = bound.matcher(s).replaceAll(mr =>
      "§UU§" + (mr.group(1).toLong * unitUs(mr.group(2).toLowerCase)) +
        " " + mr.group(3))
    // bare numeric RANGE bounds are MICROSECONDS in the reference (RANGE
    // frames require designated-timestamp order) — mark them the same
    // way. ROWS/GROUPS frames keep bare numbers as row counts.
    s = s.replaceAll(
      "(?is)\\b(RANGE\\s+(?:BETWEEN\\s+)?)(\\d+)(\\s+(?:PRECEDING|FOLLOWING))",
      "$1§US§$2$3")
    s = s.replaceAll(
      "(?is)\\b(RANGE\\s+BETWEEN\\s+(?:§U[SU]§\\d+\\s+(?:PRECEDING|FOLLOWING)|UNBOUNDED\\s+PRECEDING|CURRENT\\s+ROW)\\s+AND\\s+)(\\d+)(\\s+(?:PRECEDING|FOLLOWING))",
      "$1§US§$2$3")
    // step 2: wrap the ORDER BY key of every frame that got a marker
    val frame = java.util.regex.Pattern.compile(
      // the key must not cross a paren boundary — a WINDOW clause holds
      // several parenthesized definitions and a greedy middle would
      // bridge one definition's ORDER BY to the next one's RANGE
      // (WindowExcludeCurrentRowTest:138)
      "(?is)(ORDER\\s+BY\\s+)([^()]+?)(\\s+ASC|\\s+DESC)?(\\s+RANGE\\s+(?:BETWEEN\\s+)?)(?=[^()]*§U[SU]§)")
    // manual loop: a ns-declared key orders in NANOS (BIGINT carrier or
    // ns-view of a µs store) and its bounds scale ×1000; µs keys wrap in
    // unix_micros with bounds as marked (WindowFunctionTest timestamp_ns
    // range frames; WindowRangeFrameOverflowTest)
    val fm = frame.matcher(s)
    val fsb = new java.lang.StringBuilder
    var cursor = 0
    while (fm.find(cursor)) {
      val key = fm.group(2).trim
      val isNs = key.matches("[\\w.]+") &&
        cat.declaredTypesOf(key.split('.').last.toLowerCase)
          .exists(_.toUpperCase.startsWith("TIMESTAMP_NS"))
      val keyExpr =
        if (isNs)
          s"(CASE WHEN typeof($key) = 'bigint' THEN CAST($key AS BIGINT)" +
            s" ELSE unix_micros(CAST($key AS TIMESTAMP)) * 1000 END)"
        else s"unix_micros(CAST($key AS TIMESTAMP))"
      fsb.append(s, cursor, fm.start())
      fsb.append(fm.group(1)).append(keyExpr)
        .append(Option(fm.group(3)).getOrElse("")).append(fm.group(4))
      cursor = fm.end()
      if (isNs) {
        // scale this frame's marked bounds (they sit before the spec's
        // closing paren — the lookahead guarantees [^()]* to the marker)
        var specEnd = cursor
        while (specEnd < s.length && s.charAt(specEnd) != '(' && s.charAt(specEnd) != ')')
          specEnd += 1
        val scaled = "§UU§(\\d+)".r.replaceAllIn(s.substring(cursor, specEnd),
          m2 => "§UU§" + (m2.group(1).toLong * 1000L))
        fsb.append(scaled)
        cursor = specEnd
      }
    }
    fsb.append(s, cursor, s.length)
    s = fsb.toString
    s.replace("§US§", "").replace("§UU§", "")
  }

  /** Strip `/* ... */` blocks (incl. optimizer hints the reference
    * accepts but later textual passes would mangle) and `-- ...` line
    * tails, respecting string literals. */
  private def stripComments(q: String): String = {
    if (!q.contains("/*") && !q.contains("--")) return q
    val sb = new StringBuilder
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') {
        var j = i + 1
        while (j < q.length && q.charAt(j) != '\'') j += 1
        sb.append(q.substring(i, math.min(j + 1, q.length))); i = j + 1
      } else if (c == '/' && i + 1 < q.length && q.charAt(i + 1) == '*') {
        val end = q.indexOf("*/", i + 2)
        sb.append(' ')
        i = if (end < 0) q.length else end + 2
      } else if (c == '-' && i + 1 < q.length && q.charAt(i + 1) == '-') {
        val end = q.indexOf('\n', i)
        i = if (end < 0) q.length else end
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Apply `f` to the segments outside single-quoted strings. */
  private[sql] def mapOutside(s: String)(f: String => String): String = {
    val sb = new StringBuilder
    var i = 0
    var start = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') {
        var j = i + 1
        var end = -1
        while (j < s.length && end < 0) {
          if (s.charAt(j) == '\'') {
            if (j + 1 < s.length && s.charAt(j + 1) == '\'') j += 2 else end = j
          } else j += 1
        }
        val stop = if (end < 0) s.length else end + 1
        sb.append(f(s.substring(start, i))).append(s.substring(i, stop))
        i = stop
        start = stop
      } else i += 1
    }
    sb.append(f(s.substring(start)))
    sb.toString
  }

  /** `"ident"` → `` `ident` `` (PG identifier quoting; reference lexer
    * treats double quotes as identifier quotes, Spark as strings). */
  private def doubleQuotedIdents(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') {
        var j = i + 1
        var end = -1
        while (j < s.length && end < 0) {
          if (s.charAt(j) == '\'') {
            if (j + 1 < s.length && s.charAt(j + 1) == '\'') j += 2 else end = j
          } else j += 1
        }
        val stop = if (end < 0) s.length else end + 1
        sb.append(s.substring(i, stop))
        i = stop
      } else if (c == '"') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != '"') j += 1
        sb.append('`').append(s.substring(i + 1, math.min(j, s.length))).append('`')
        i = math.min(j + 1, s.length)
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** Fold `( int * int [* int …] )` chains to one exact literal (BigInt
    * arithmetic; L-suffixed when outside int range). Innermost-first so
    * nested products like (-a * (-b * -c)) collapse fully. */
  private def foldIntProducts(s0: String): String = {
    val pat = """\(\s*(-?\d+)[Ll]?(?:\s*\*\s*(-?\d+)[Ll]?)+\s*\)""".r
    var s = s0
    var guard = 0
    var changed = true
    while (changed && guard < 16) {
      guard += 1
      val next = pat.replaceAllIn(s, m => {
        val factors = """-?\d+""".r.findAllIn(m.matched).map(BigInt(_)).toList
        val prod = factors.product
        val anyLongFactor = factors.exists(!_.isValidInt) ||
          "[Ll]".r.findFirstIn(m.matched).isDefined
        // fold only when 32-bit math would diverge (overflow or a long
        // factor) — an in-range product computes identically in Spark
        // and folding it would change the auto-derived column name
        val lit =
          if (prod.isValidInt && !anyLongFactor) m.matched
          else if (prod.isValidLong) prod.toString + "L"
          else m.matched // overflows LONG too — leave for the engine
        java.util.regex.Matcher.quoteReplacement(lit)
      })
      changed = next != s
      s = next
    }
    s
  }

  /** `50_000` → `50000` (reference Java-style digit separators). */
  private def underscoreDigits(s: String): String =
    s.replaceAll("(?<=\\d)_(?=\\d)", "")

  /** `1.25m` / `-127m` decimal-suffix literals → Spark BigDecimal
    * literals (`1.25BD`). Integer forms are rewritten too, except right
    * after duration keywords (SAMPLE BY 1m, FLUSH EVERY 10m, TTL 1m)
    * where `m` is the minutes stride. */
  private def decimalSuffix(s0: String): String = {
    // >38-digit literals exceed Spark's decimal range entirely — they
    // ride the decimal-string carrier as quoted literals (the DECIMAL256
    // tier; WindowDecimalFunctionTest:8823 70-digit INSERT VALUES)
    var s = """(?i)\b(\d+\.\d*)m\b""".r.replaceAllIn(s0, m => {
      val digits = m.group(1).replace(".", "")
      java.util.regex.Matcher.quoteReplacement(
        if (digits.length > 38) s"'${m.group(1)}'" else s"${m.group(1)}BD")
    })
    val pat = java.util.regex.Pattern.compile(
      "(?i)((?:sample\\s+by|every|ttl|in\\s+memory|range|limit|from|to|step|between|tolerance)\\s+-?)?\\b(\\d+)m\\b(\\s*(?:preceding|following))?")
    val m = pat.matcher(s)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(s.substring(last, m.start()))
      if (m.group(1) != null || m.group(3) != null) sb.append(m.group(0))
      else if (m.group(2).length > 38) sb.append("'").append(m.group(2)).append("'")
      else sb.append(m.group(2)).append("BD")
      last = m.end()
    }
    sb.append(s.substring(last))
    sb.toString
  }

  /** `0xF0` hex literals → decimal longs (≤16 hex digits; longer forms
    * are LONG256 text handled elsewhere). */
  private def hexLiterals(s: String): String = {
    val pat = java.util.regex.Pattern.compile("\\b0x([0-9a-fA-F]{1,16})\\b")
    val m = pat.matcher(s)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(s.substring(last, m.start()))
      sb.append(java.lang.Long.parseUnsignedLong(m.group(1), 16).toString).append("L")
      last = m.end()
    }
    sb.append(s.substring(last))
    sb.toString
  }

  /** `c in null` → `c IS NULL`; `= null` / `!= null` comparisons use the
    * reference's null-equality semantics (null = null is true). */
  private def inNull(s0: String): String =
    s0.replaceAll("(?i)\\b(not\\s+)?in\\s+null\\b", "IS $1NULL")

  private def eqNull(s0: String): String = {
    var s = s0.replaceAll("(?i)(?<![<>!=])\\s*(!=|<>)\\s*null\\b(?!\\s*::)", " IS NOT NULL")
    s = s.replaceAll("(?i)(?<![<>!=:])\\s*=\\s*null\\b(?!\\s*::)", " IS NULL")
    // value-based ordering comparisons: null >= null and null <= null
    // are TRUE in the reference (the = half), strict </> stay false
    // the lookbehind keeps the ipv4 containment operators (<<= / >>=)
    // out of this rule
    s = s.replaceAll("(?i)(?<![<>])\\s*(>=|<=)\\s*null\\b(?!\\s*::)", " IS NULL")
    // mirrored null-on-the-LEFT orderings: `null <= s` keeps only null
    // rows (the = half), strict `null < s` keeps none
    // (LtNullComparisonTest varchar forms)
    s = s.replaceAll("(?i)\\bnull\\s*(?:<=|>=)\\s*([\\w.]+)(?!\\s*::)", "$1 IS NULL")
    s = s.replaceAll("(?i)\\bnull\\s*(?:<|>)\\s*([\\w.]+)(?!\\s*[<>=:])", "false")
    s
  }

  /** IN lists with NULL elements match null values in the reference
    * (value-based equality); Spark's three-valued IN never does. A NOT
    * IN over such a list keeps non-null non-members. `x IN null[::t]`
    * is a bare null-membership test. */
  private[sql] def inListNulls(q0: String, cat: graft.SessionCatalog): String = {
    var s = q0.replaceAll("(?i)([\\w.]+)\\s+IN\\s+null(\\s*::\\s*\\w+)?\\b", "$1 IS NULL")
    // `a in '3'` over a STRING-typed column is single-member list
    // containment in the reference (InVarcharFunctionFactory) — never
    // over timestamps, where a string after IN is an INTERVAL scan
    s = java.util.regex.Pattern
      .compile("(?i)\\b([\\w.]+)\\s+(NOT\\s+)?IN\\s+('(?:[^']|'')*'(?:\\s*::\\s*(?:char|string|varchar))?)(?!\\s*[,:(])")
      .matcher(s).replaceAll { mr =>
        val colName = mr.group(1).split('.').last.toLowerCase
        val decls = cat.declaredTypesOf(colName)
        val stringDecl = decls.nonEmpty && decls.forall(t => t.startsWith("STRING") ||
          t.startsWith("VARCHAR") || t.startsWith("SYMBOL") || t.startsWith("CHAR"))
        // undeclared (CTAS) columns: the literal's SHAPE decides — a
        // 4-digit-year-led string is an interval scan over a timestamp,
        // anything else is varchar containment
        val lit = mr.group(3).replaceAll("(?i)\\s*::\\s*char$", "")
          .stripPrefix("'").stripSuffix("'")
        val intervalShaped = lit.matches("\\d{4}([-;T].*)?")
        if (stringDecl || (decls.isEmpty && !intervalShaped))
          s"${mr.group(1)} ${Option(mr.group(2)).getOrElse("")}IN (${mr.group(3)})"
        else mr.group(0)
      }
    def isNullLit(a: String) =
      a.trim.matches("(?i)null(\\s*::\\s*\\w+)?") ||
        a.trim.matches("(?i)CAST\\s*\\(\\s*NULL\\s+AS\\s+\\w+\\s*\\)") ||
        // CHAR(0) maps to NULL in the reference's char→varchar cast
        // (InVarcharTest (0)::char entries) — both the raw spelling and
        // the constant-0 shape of the char-code cast expansion
        a.trim.matches("(?i)\\(?\\s*0\\s*\\)?\\s*::\\s*char") ||
        a.trim.matches("(?i)CAST\\s*\\(\\s*0\\s+AS\\s+CHAR\\s*\\)") ||
        a.replaceAll("\\s+", "").toUpperCase.contains("IF(CAST((0)ASINT)=0,''") ||
        a.replaceAll("\\s+", "").toUpperCase
          .contains("IF(CAST((0)ASINT)=0,CAST(NULLASSTRING)")
    val pat = java.util.regex.Pattern.compile("(?i)\\b(NOT\\s+)?IN\\s*\\(")
    var m = pat.matcher(s)
    var guard = 0
    while (m.find() && guard < 64) {
      guard += 1
      val open = m.end() - 1
      var depth = 0; var i = open; var end = -1
      while (i < s.length && end < 0) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case '\'' => var k = i + 1; while (k < s.length && s.charAt(k) != '\'') k += 1; i = k
          case _ =>
        }
        i += 1
      }
      if (end < 0) return s
      val inner = s.substring(open + 1, end)
      val args = graft.sql.QuestSql.splitSelect(inner)
      // over a CHAR-typed operand, the '' literal IS the null char
      // (reference CHAR(0) ≡ null — InTest `ch in ('')`)
      lazy val charLhs = {
        val opStart0 = operandStart(s, m.start())
        val op = s.substring(opStart0, m.start()).trim
        op.matches("[\\w.]+") &&
          cat.declaredTypesOf(op.split('.').last.toLowerCase).contains("CHAR")
      }
      def nullish(a: String) = isNullLit(a) ||
        (a.trim.matches("''(\\s*::\\s*\\w+)?") && charLhs)
      if (!inner.trim.toLowerCase.startsWith("select") && args.exists(nullish)) {
        val opStart = operandStart(s, m.start())
        val operand = s.substring(opStart, m.start()).trim
        if (operand.nonEmpty) {
          val nonNull = args.filterNot(nullish)
          val not = m.group(1) != null
          val repl =
            if (not && nonNull.isEmpty) s"($operand IS NOT NULL)"
            else if (not) s"($operand IS NOT NULL AND $operand NOT IN (${nonNull.mkString(", ")}))"
            else if (nonNull.isEmpty) s"($operand IS NULL)"
            else s"($operand IN (${nonNull.mkString(", ")}) OR $operand IS NULL)"
          s = s.substring(0, opStart) + repl + s.substring(end + 1)
          m = pat.matcher(s)
        }
      }
    }
    s
  }

  /** Bare `NaN` literal — the reference's double null spelling. */
  private def nanLiteral(s: String): String =
    s.replaceAll("\\bNaN\\b", "CAST(NULL AS DOUBLE)")

  /** `arr[i]`, `m[i,j]`, `v[lo:hi]` subscripts → element_at / slice
    * chains (reference 1-based array access; slice upper bound is
    * exclusive). `ARRAY[...]` literals were rewritten earlier, so a
    * remaining `ident[...]` or `)[...]`-chain is always an access. */
  private def arraySubscripts(s0: String): String = {
    val pat = java.util.regex.Pattern.compile(
      "([A-Za-z_][\\w.]*|\\))\\s*\\[([^\\[\\]]*)\\]")
    var s = s0
    var guard = 0
    var m = pat.matcher(s)
    var changed = true
    while (changed && guard < 64) {
      changed = false
      m = pat.matcher(s)
      var searching = true
      while (searching && m.find()) {
        if (m.group(2).trim.isEmpty ||
            m.group(1).toLowerCase == "array" || m.group(1).toLowerCase.endsWith(".array")) ()
        else { searching = false }
      }
      if (!searching) {
      guard += 1
      changed = true
      if (m.group(1) == ")") {
        // base ends at a close paren: walk back to the balancing open
        var depth = 0
        var i = m.end(1) - 1
        var start = -1
        while (i >= 0 && start < 0) {
          s.charAt(i) match {
            case ')' => depth += 1
            case '(' => depth -= 1; if (depth == 0) start = i
            case _ =>
          }
          i -= 1
        }
        // include a preceding function name
        var j = start - 1
        while (j >= 0 && (isIdentCh(s.charAt(j)) || s.charAt(j) == '.')) j -= 1
        val baseStart = j + 1
        val base = s.substring(baseStart, m.end(1))
        val repl = subscriptExpr(base, m.group(2))
        s = s.substring(0, baseStart) + repl + s.substring(m.end())
      } else {
        val repl = subscriptExpr(m.group(1), m.group(2))
        s = s.substring(0, m.start()) + repl + s.substring(m.end())
      }
      }
    }
    s
  }

  private def isIdentCh(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'

  private val subscriptVar = new java.util.concurrent.atomic.AtomicLong()

  private def subscriptExpr(base: String, idxList: String): String = {
    // balanced split: an index can itself be a rewritten call with commas
    // (`arr1[arr2[2]::int]` → `arr1[CAST(element_at(arr2, 2) AS INT)]`)
    val ixs = splitBalancedCommas(idxList).map(_.trim).filter(_.nonEmpty).toList
    // non-literal slice bounds can be NULL at runtime — the reference
    // returns a NULL array for a null-bounded slice (ArrayTest
    // arr[1:2, 1:n] with null n), where slice()'s null only nulls the
    // sliced axis; collected here and guarded around the whole access
    val nullableBounds = scala.collection.mutable.Buffer[String]()
    def isSlice(ix: String): Boolean =
      ix.contains(":") && !ix.toUpperCase.contains("CAST(") && !ix.contains("::")
    def sliceOf(cur: String, ix: String): String = {
      val parts = ix.split(":", -1)
      val lo0 = if (parts(0).trim.isEmpty) "1" else parts(0).trim
      val hi = parts.lift(1).map(_.trim).filter(_.nonEmpty)
      if (!lo0.matches("-?\\d+")) nullableBounds += lo0
      hi.filterNot(_.matches("-?\\d+")).foreach(nullableBounds += _)
      // negative bounds count from the end; degenerate or reversed
      // ranges yield an empty slice; a NULL bound yields NULL (CASE
      // propagates where greatest() would swallow it)
      val lo = s"(CASE WHEN ($lo0) < 0 THEN size($cur) + ($lo0) + 1 ELSE ($lo0) END)"
      val len = hi match {
        case Some(h) =>
          s"(CASE WHEN ($h) < 0 THEN size($cur) + ($h) + 1 ELSE ($h) END) - ($lo)"
        case None => s"size($cur) - ($lo) + 1"
      }
      s"slice($cur, CASE WHEN ($lo) < 1 THEN 1 ELSE $lo END, " +
        s"CASE WHEN ($len) < 0 THEN 0 ELSE $len END)"
    }
    // an element access reduces the rank in place; a SLICE keeps the
    // dimension, so every later index applies one dimension deeper —
    // nest it inside a transform() over the sliced axis (reference
    // ArrayTest multi-dim slicing: arr[1:, 1:, 2:4])
    def build(rest: List[String], cur: String): String = rest match {
      case Nil => cur
      case ix :: tail if isSlice(ix) =>
        val sliced = sliceOf(cur, ix)
        if (tail.isEmpty) sliced
        else {
          val v = s"__sx${subscriptVar.incrementAndGet()}"
          s"transform($sliced, $v -> ${build(tail, v)})"
        }
      case ix :: tail if ix.matches("-?\\d+") =>
        build(tail, s"try_element_at($cur, $ix)") // out-of-bounds → null
      case ix :: tail => // computed index: element_at needs INT, not the
                         // BIGINT a `::long` cast or arithmetic produces
                         // (a quoted index like arr['2'] coerces too —
                         // reference casts STRING subscripts to int)
        build(tail, s"try_element_at($cur, CAST(($ix) AS INT))")
    }
    val out0 = build(ixs, base)
    val out =
      if (nullableBounds.isEmpty) out0
      else s"IF(${nullableBounds.map(b => s"($b) IS NULL").mkString(" OR ")}, NULL, $out0)"
    // multi-dim slices lower to transform(...) and guarded accesses to
    // IF(...) — tag them so the default column name stays the
    // reference's '[]' (AutoAlias)
    if (out.startsWith("transform(") || out.startsWith("IF("))
      s"__graft_slice($out)"
    else out
  }

  /** `ARRAY[a, b, [c]]` → `array(a, b, array(c))`. */
  private[sql] def arrayLiterals(s0: String): String = {
    var s = s0
    var idx = findArrayLit(s, 0)
    while (idx >= 0) {
      val open = s.indexOf('[', idx)
      val sb = new StringBuilder(s.substring(0, idx))
      sb.append("array(")
      // bracket kinds: a '[' directly after an identifier/')'/']' is a
      // SUBSCRIPT (ARRAY[[a[1], a[2]]] — reference ArrayTest inserts
      // element accesses inside literals), kept verbatim for the later
      // subscript pass; any other '[' opens a nested literal dim
      var stack: List[Boolean] = List(false) // false = literal bracket
      var litDepth = 1
      var maxDepth = 1
      var hasString = false
      var i = open + 1
      while (i < s.length && stack.nonEmpty) {
        s.charAt(i) match {
          case '\'' =>
            hasString = true
            var j = i + 1
            while (j < s.length && s.charAt(j) != '\'') j += 1
            sb.append(s.substring(i, math.min(j + 1, s.length))); i = j + 1
          case '[' =>
            var k = sb.length - 1
            while (k >= 0 && sb.charAt(k).isWhitespace) k -= 1
            val sub = k >= 0 && (isIdentCh(sb.charAt(k)) ||
              sb.charAt(k) == ')' || sb.charAt(k) == ']')
            stack = sub :: stack
            if (sub) sb.append('[')
            else {
              litDepth += 1; maxDepth = math.max(maxDepth, litDepth)
              sb.append("array(")
            }
            i += 1
          case ']' =>
            val sub = stack.head; stack = stack.tail
            if (sub) sb.append(']') else { litDepth -= 1; sb.append(')') }
            i += 1
          case c => sb.append(c); i += 1
        }
      }
      // reference arrays are DOUBLE-element only: widen bare integer
      // literals inside the converted region so ARRAY[1, 2] = [1.0, 2.0]
      // (subscript indices/slice bounds kept inside the literal must
      // stay integral — exclude digits adjacent to '[' ':' ']')
      // (?<![Ee]-): a negative exponent's digits are NOT a bare integer
      // (ARRAY[4.9E-324] must not become 4.9E-324.0)
      var region = sb.substring(idx, sb.length)
        .replaceAll("(?<![\\w.\\[:])(?<![Ee]-)(-?\\d+)(?![\\w.:\\]DdFfLl])", "$1.0")
      // non-literal elements (column refs: ARRAY[x]) widen through a
      // whole-array cast — skipped when strings are present (not a
      // reference array then)
      if (!hasString && """[A-Za-z_]""".r.findFirstIn(
          region.replaceAll("(?i)\\barray\\b", "")).isDefined) {
        // __graft_arrd widens numeric leaves to double at PLAN time (it
        // sees element ranks — ARRAY[vec1, vec2] of 1-D columns is
        // legal); __graft_arr = identity, keeps the reference's 'ARRAY'
        // default column name (SqlParser names the literal node ARRAY,
        // and the widening cast is ours, not the user's). Inside
        // UNNEST(...) the later unnest pass must see a plain
        // CAST(array(...)) shape — no naming is at stake there.
        val inUnnest = {
          // innermost unclosed paren before the literal — is it an
          // UNNEST call? (covers later args of UNNEST(a1, a2, …) too)
          val before = s.substring(0, idx)
          var depth = 0; var openPos = -1; var i2 = before.length - 1
          while (i2 >= 0 && openPos < 0) {
            before.charAt(i2) match {
              case ')' => depth += 1
              case '(' => if (depth == 0) openPos = i2 else depth -= 1
              case _ =>
            }
            i2 -= 1
          }
          openPos > 0 && {
            var j2 = openPos - 1
            while (j2 >= 0 && before.charAt(j2).isWhitespace) j2 -= 1
            val e2 = j2 + 1
            while (j2 >= 0 && isIdentCh(before.charAt(j2))) j2 -= 1
            before.substring(j2 + 1, e2).equalsIgnoreCase("unnest")
          }
        }
        region =
          if (inUnnest) {
            val t = (1 to maxDepth).foldLeft("double")((acc, _) => s"array<$acc>")
            s"CAST($region AS $t)"
          } else s"__graft_arr(__graft_arrd($region))"
      }
      sb.replace(idx, sb.length, region)
      sb.append(s.substring(math.min(i, s.length)))
      s = sb.toString
      idx = findArrayLit(s, idx + 6)
    }
    s
  }

  private def findArrayLit(s: String, from: Int): Int = {
    val m = java.util.regex.Pattern.compile("(?i)\\bARRAY\\s*\\[").matcher(s)
    if (m.find(from)) m.start() else -1
  }

  /** `::double[]` / `as double[])` → array cast targets; applied
    * repeatedly so `double[][]` nests. */
  private def arrayTypeCasts(s0: String): String = {
    var s = s0
    var prev: String = null
    while (s != prev) {
      prev = s
      s = s.replaceAll("(?i)::\\s*([a-z_]+)\\s*\\[\\s*\\]", "::ARRAY<$1>")
      s = s.replaceAll("(?i)(\\bas\\s+)([a-z_]+)\\s*\\[\\s*\\]", "$1ARRAY<$2>")
      // nested: ARRAY<double>[] → ARRAY<ARRAY<double>>
      s = s.replaceAll("(?i)(ARRAY<[^<>]+>)\\s*\\[\\s*\\]", "ARRAY<$1>")
      s = s.replaceAll("(?i)ARRAY<(ARRAY<[^<>]+>)\\s*\\[\\s*\\]>", "ARRAY<ARRAY<$1>>")
    }
    // a NULL/NaN scalar cast to an array type is the NULL array in the
    // reference (ArrayTest: null::double[] = NaN::double[] → true);
    // Spark cannot cast DOUBLE → ARRAY, so collapse the chain to a
    // typed NULL before the generic cast pass sees it
    s = s.replaceAll(
      "(?i)(?:\\bCAST\\s*\\(\\s*NULL\\s+AS\\s+[a-z_]+\\s*\\)|\\bnull|\\bnan)" +
        "(?:\\s*::\\s*[a-z_]+)*\\s*::\\s*(ARRAY<[\\w<>]+>)",
      "CAST(NULL AS $1)")
    // call-result / identifier operands of `::ARRAY<…>` spell out the
    // CAST — Spark's :: operator rejects parameterized complex targets
    // (`array()::DOUBLE[]`, UnnestTest empty-array fixtures)
    s = s.replaceAll(
      "(?is)((?:[\\w.]+)?\\((?:[^()']|'[^']*'|\\([^()']*\\))*\\)|[\\w.]+)\\s*::\\s*(ARRAY<[\\w<>, ]+>)",
      "CAST($1 AS $2)")
    // a numeric literal cast to an array wraps as a one-element vector
    // (reference scalar→array promotion: 1.0::double[] = [1.0]); the
    // double-literal pass may already have wrapped the literal in CAST
    s = s.replaceAll(
      "(?i)(?<![\\w.])(-?\\d+(?:\\.\\d+)?[DdFfLl]?|CAST\\s*\\(\\s*-?\\d+(?:\\.\\d+)?\\s+AS\\s+\\w+\\s*\\))" +
        "\\s*::\\s*ARRAY<([a-z]+)>(?!>)",
      "array(CAST($1 AS $2))")
    s
  }

  /** Cast targets Spark lacks: sizeless VARCHAR/CHAR, SYMBOL, UUID →
    * STRING (reference types that ride as strings here); LONG128 →
    * STRING. Applies to `::type` and `AS type)` spellings only, so
    * columns named `symbol` stay untouched. */
  private def sizelessTypes(s0: String): String = {
    var s = s0
    // typeOf over an explicit varchar cast answers VARCHAR in the
    // reference (TypeOfFunctionFactory; SqlCompilerImplTest:376) — mark
    // the call BEFORE the cast target is erased to STRING
    s = s.replaceAll(
      "(?i)\\b(typeof\\s*\\(\\s*)([^()]*?::\\s*varchar\\b[^()]*?)(\\))",
      "$1__vc_marker($2)$3")
    s = s.replaceAll(
      "(?i)\\b(typeof\\s*\\(\\s*)(cast\\s*\\([^()]*\\bas\\s+varchar\\s*\\))(\\s*\\))",
      "$1__vc_marker($2)$3")
    s = s.replaceAll("(?i)::\\s*varchar\\b(?!\\s*\\()", "::STRING")
    // numeric ::char is a CHARACTER-CODE cast in the reference
    // (`(x-1)::char` = the char at that code; code 0 prints empty —
    // InTest `ch in ('')`); other operands keep the string cast
    s = s.replaceAll(
      "(?i)(?<![:\\w])([\\w.]+\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*\\)|\\((?:[^()']|'[^']*'|\\([^()']*\\))*\\)|-?\\d+|[\\w.]+)(?<!::string)\\s*::\\s*char\\b(?!\\s*\\()",
      "(CASE WHEN typeof($1) IN ('tinyint','smallint','int','bigint','float','double') " +
        "THEN IF(CAST($1 AS INT) = 0, CAST(NULL AS STRING), chr(CAST($1 AS INT))) " +
        // a string truncates to its FIRST char; the empty string is the
        // null char (SqlCompilerImplTest cast('ab' as char) <= 'a')
        "ELSE nullif(substring(CAST($1 AS STRING), 1, 1), '') END)")
    s = s.replaceAll("(?i)::\\s*char\\b(?!\\s*\\()", "::STRING")
    // symbol casts dispatch on the operand type (timestamps render their
    // RAW LONG — CastTest (d)::SYMBOL over timestamps yields -1, not ISO)
    s = s.replaceAll(
      "(?i)(?<![:\\w])((?:[\\w.]+)?\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*\\)|[\\w.]+|'[^']*')\\s*::\\s*symbol\\b",
      "__sym_cast($1)")
    // '0x…'::long256 string literals ARE the carrier — canonicalize the
    // spelling in place (lowercase, 0x prefix; reference Long256Impl
    // parse+render round-trip). Other operands re-spell as
    // CAST(x AS LONG256) so (a) the fn-macro cast expansion renders the
    // canonical hex carrier from numerics and (b) Spark's parser never
    // sees a bare ::long256 (UNSUPPORTED_DATATYPE on INSERT VALUES and
    // inline tables). CTAS provenance gates match the AS LONG256
    // spelling, so long256-ness survives for sum()'s 256-bit path.
    s = """(?i)'(?:0x)?([0-9a-f]+)'\s*::\s*long256\b""".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(s"'0x${m.group(1).toLowerCase}'"))
    s = s.replaceAll(
      "(?i)(?<![:\\w])((?:[\\w.]+)?\\((?:[^()']|'[^']*'|\\((?:[^()']|'[^']*')*\\))*\\)|[\\w.]+)\\s*::\\s*long256\\b",
      "CAST($1 AS LONG256)")
    s = s.replaceAll("(?i)::\\s*(symbol|uuid|long128)\\b", "::STRING")
    s = s.replaceAll("(?i)::\\s*regclass\\b", "") // regclass IS the name string
    s = s.replaceAll("(?i)::\\s*ipv4\\b", "::STRING") // leftover odd operands
    // keep varchar-ness visible to the cast macro (the reference's
    // CONST datetime→VARCHAR folding renders the raw long while →STRING
    // keeps ISO); the macro restores AS STRING after dispatch
    s = s.replaceAll("(?i)\\bas\\s+varchar\\s*\\)", "AS __VC__)")
    // empty char is the reference's null char; other CHAR cast targets
    // keep their spelling — the engine's cast macro truncates strings to
    // the first char (CastTest / SqlCompilerImplTest)
    s = s.replaceAll("(?i)\\bcast\\s*\\(\\s*''\\s+as\\s+char\\s*\\)", "CAST(NULL AS STRING)")
    s = s.replaceAll("(?i)\\bas\\s+(uuid|long128)\\s*\\)", "AS STRING)")
    // DECIMAL precision beyond Spark's 38 is NOT clamped here anymore:
    // >38-digit cast targets lower to the decimal-string carrier in the
    // fn-macro cast pass, and column declarations ride the string
    // carrier via the decl parser (reference DECIMAL256 tier)
    // sized VARCHAR(n) casts are fine for Spark; CHAR(n) too
    s
  }

  /** `expr::timestamp` → `__ts_us_cast(expr)` so numeric operands read
    * as microseconds (reference cast) — simple operands only; string
    * literals keep Spark's cast. */
  private def tsColonCasts(s: String): String = {
    // paren operands may be whole calls (`dateadd(...)::timestamp`) —
    // include the optional leading identifier in the operand
    val callOp = "(?:[\\w.]+)?\\((?:[^()]|\\([^()]*\\))*\\)"
    val s1 = s.replaceAll(
      s"(?i)($callOp|[\\w.]+|'[^']*')\\s*::\\s*timestamp_ns\\b",
      "__ns_cast($1)")
    val s2 = s1.replaceAll(
      s"(?i)($callOp|[\\w.]+)\\s*::\\s*timestamp\\b(?!_ns)",
      "__ts_us_cast($1)")
    // DATE is a millisecond datetime in the reference — Spark's native
    // `::date` cast would truncate to days; route through the dialect
    // CAST pass (dateMsCast)
    val s3 = s2.replaceAll(
      s"(?i)($callOp|[\\w.]+|'[^']*')\\s*::\\s*date\\b",
      "CAST($1 AS DATE)")
    // USER-written ::double marks itself (__graft_dbl = the same cast,
    // behind an opaque node): the integer-division rule must not
    // confuse an explicit double cast with the analyzer's own
    // int→double promotion
    val s4 = s3.replaceAll(
      s"(?i)($callOp|[\\w.]+)\\s*::\\s*double\\b(?!\\s*\\[)",
      "__graft_dbl($1)")
    // ::varchar/::string over columns/calls routes through the dialect
    // CAST pass too, so timestamp operands render the reference UTC
    // pattern instead of Spark's space-separated default
    s4.replaceAll(
      s"(?i)($callOp|[\\w.]+)\\s*::\\s*(?:varchar|string)\\b",
      "CAST($1 AS VARCHAR)")
  }

  /** `::timestamp with time zone` → `::timestamp`;
    * `cast(x as timestamp with time zone)` likewise (values are UTC
    * already — the session is pinned to UTC like the reference). */
  private def tzCastTails(s0: String): String = {
    var s = s0
    s = s.replaceAll("(?i)(::\\s*timestamp(?:_ns)?)\\s+with\\s+time\\s+zone", "$1")
    s = s.replaceAll("(?i)(\\bas\\s+timestamp(?:_ns)?)\\s+with\\s+time\\s+zone(\\s*\\))", "$1$2")
    s
  }

  /** `operand at time zone 'TZ'` → `from_utc_timestamp(operand, 'TZ')`.
    * The operand is the immediately preceding literal/column/call. */
  private def atTimeZone(s0: String): String = {
    val pat = java.util.regex.Pattern.compile(
      "(?i)\\s+at\\s+time\\s+zone\\s+('(?:[^']|'')*')")
    var s = s0
    var m = pat.matcher(s)
    var guard = 0
    while (m.find() && guard < 64) {
      guard += 1
      val opEnd = m.start()
      val opStart = operandStart(s, opEnd)
      val operand = s.substring(opStart, opEnd)
      val tz = m.group(1)
      // an ns-precision operand rides the BIGINT nanos carrier — shift
      // by the zone offset in nanos instead of from_utc_timestamp
      // (TimestampAtTimeZoneTest ::timestamp_ns at time zone)
      val isNs = """(?i)::\s*timestamp_ns\b|to_timestamp_ns\s*\(|__ns_cast\s*\(""".r
        .findFirstIn(operand).isDefined
      val repl =
        if (isNs) s"__ns_at_tz($operand, $tz)"
        else s"from_utc_timestamp($operand, $tz)"
      s = s.substring(0, opStart) + repl + s.substring(m.end())
      m = pat.matcher(s)
    }
    s
  }

  /** Start of the expression operand that ends (exclusive) at `end`:
    * walks back over a balanced-paren call chain / quoted literal /
    * dotted identifier / `::`-cast chain. */
  private def operandStart(s: String, end0: Int): Int = {
    var i = end0 - 1
    while (i >= 0 && s.charAt(i).isWhitespace) i -= 1
    if (i < 0) return 0
    def walkBack(j0: Int): Int = {
      var j = j0
      s.charAt(j) match {
        case ')' =>
          var depth = 0
          while (j >= 0) {
            s.charAt(j) match {
              case ')' => depth += 1
              case '(' =>
                depth -= 1
                if (depth == 0) return walkIdentBack(j - 1)
              case _ =>
            }
            j -= 1
          }
          0
        case '\'' =>
          j -= 1
          while (j >= 0 && s.charAt(j) != '\'') j -= 1
          // typed literal prefix (timestamp '...' etc.)
          walkIdentBack(j - 1)
        case c if Character.isLetterOrDigit(c) || c == '_' || c == '>' =>
          walkIdentBack(j)
        case _ => j + 1
      }
    }
    def walkIdentBack(j0: Int): Int = {
      var j = j0
      while (j >= 0 && (Character.isLetterOrDigit(s.charAt(j)) ||
          "_$.<>".indexOf(s.charAt(j)) >= 0)) j -= 1
      // `::` cast chain continues left
      if (j >= 1 && s.charAt(j) == ':' && s.charAt(j - 1) == ':')
        walkBack(j - 2)
      else j + 1
    }
    walkBack(i)
  }

  /** Single-quoted table names after FROM/INTO/TABLE/JOIN →
    * backtick identifiers (`insert into 'tbl'`, `select * from 'tbl'`).
    * COPY statements keep their quoted file paths. */
  /** Insert a space after a single-quoted literal directly followed by
    * a letter (reference tokenizer tolerance). Sequential left-to-right
    * scan with '' escape handling. */
  private def spaceAfterLiterals(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      sb.append(c); i += 1
      if (c == '\'') {
        var done = false
        while (i < s.length && !done) {
          val ch = s.charAt(i); sb.append(ch); i += 1
          if (ch == '\'') {
            if (i < s.length && s.charAt(i) == '\'') { sb.append('\''); i += 1 }
            else done = true
          }
        }
        if (i < s.length && s.charAt(i).isLetter) sb.append(' ')
      }
    }
    sb.toString
  }

  private val onColsRe =
    ("(?i)\\b(JOIN\\s+(?:`[^`]+`|'[^']+'|[\\w.]+)(?:\\s+(?:AS\\s+)?[A-Za-z_]\\w*)?\\s+)" +
      "ON\\s*\\(\\s*([A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)\\s*\\)" +
      "(?!\\s*(?:[=<>!.]|AND\\b|OR\\b))").r

  /** `JOIN t ON (sym)` → `JOIN t USING (sym)` — but not for the
    * time-series join kinds whose own parsers read ON(col). */
  // `JOIN t ON col` without parens — same join-column shorthand
  // (LatestByTest `join rr on id`). The lookahead pins the next token to
  // a clause boundary so `ON a = b` expressions stay untouched;
  // true/false/null literals are boolean conditions, not column names.
  private val onBareColRe =
    ("(?i)\\b(JOIN\\s+(?:`[^`]+`|'[^']+'|[\\w.]+)(?:\\s+(?:AS\\s+)?[A-Za-z_]\\w*)?\\s+)" +
      "ON\\s+(?!(?:true|false|null)\\b)([A-Za-z_]\\w*)" +
      "(?=\\s*(?:$|\\)|,|;|(?i:WHERE|GROUP|ORDER|LIMIT|SAMPLE|LATEST|UNION|EXCEPT|INTERSECT|JOIN|LEFT|RIGHT|INNER|FULL|CROSS|ASOF|LT|SPLICE|WINDOW|HORIZON)\\b))").r

  private def joinOnCols(s: String): String = {
    val s1 = onColsRe.replaceAllIn(s, m => {
      val before = s.substring(0, m.start).trim.toLowerCase
      val special = Seq("asof", "lt", "splice", "window", "horizon")
        .exists(k => before.endsWith(k))
      java.util.regex.Matcher.quoteReplacement(
        if (special) m.matched
        else m.group(1) + "USING (" + m.group(2) + ")")
    })
    onBareColRe.replaceAllIn(s1, m => {
      val before = s1.substring(0, m.start).trim.toLowerCase
      val special = Seq("asof", "lt", "splice", "window", "horizon")
        .exists(k => before.endsWith(k))
      java.util.regex.Matcher.quoteReplacement(
        if (special) m.matched
        else m.group(1) + "USING (" + m.group(2) + ")")
    })
  }

  private def quotedTableNames(s: String): String = {
    val fw = s.trim.takeWhile(c => c.isLetter).toLowerCase
    if (fw == "copy") return s
    val m = java.util.regex.Pattern.compile(
      // the `(` lookahead keeps call-like forms (`from 'f'(...)`) as
      // literals — but a CREATE TABLE name IS followed by its column
      // list, so the table keyword branch allows it
      "(?i)\\b(from|into|join)\\s+'([^']+)'(?!\\s*(?:\\(|\\.))" +
        "|(?i)\\b(table(?:\\s+if\\s+not\\s+exists)?)\\s+'([^']+)'(?!\\s*\\.)").matcher(s)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      val kw = if (m.group(1) != null) m.group(1) else m.group(3)
      val name = if (m.group(2) != null) m.group(2) else m.group(4)
      // timestamp/interval literals (SAMPLE BY ... FROM '2020-01-01') and
      // file paths are not table names
      val tableish = !name.matches("\\d{4}.*") && !name.contains("/") &&
        !name.contains("\\")
      sb.append(s.substring(last, m.start()))
      if (tableish) sb.append(kw).append(" `").append(name).append('`')
      else sb.append(m.group(0))
      last = m.end()
    }
    sb.append(s.substring(last))
    // comma-join items: FROM 'a' as x, 'b' as y — rewrite quoted names
    // only inside the FROM clause's comma list (a quoted string with an
    // alias in a SELECT list must stay a literal)
    val fromList = java.util.regex.Pattern.compile(
      "(?i)(\\bFROM\\s+(?:`[^`]+`|[\\w.]+)(?:\\s+(?:AS\\s+)?\\w+)?)" +
        "((?:\\s*,\\s*(?:'[A-Za-z_][^'/\\\\]*'|[\\w.`]+)(?:\\s+(?:AS\\s+)?\\w+)?)+)")
    val whole = sb.toString
    val fm = fromList.matcher(whole)
    val out = new StringBuilder
    var fl = 0
    while (fm.find()) {
      out.append(whole.substring(fl, fm.start())).append(fm.group(1))
      out.append(fm.group(2).replaceAll("'([A-Za-z_][^'/\\\\]*)'", "`$1`"))
      fl = fm.end()
    }
    out.append(whole.substring(fl))
    out.toString
  }
}

package graft

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types._

/** Pinot SQL compatibility layer (SURVEY.md §2.8, §2.4): the deployed
  * reference endpoint answers Pinot 1.2.0 function names
  * (`/root/reference/resources/bastion/bastionUserData.sh:7` pins the
  * version; `README.md:110` points users at the query console). Registering
  * those names lets a reference user run their existing queries unmodified —
  * each alias maps onto the equivalent codegen'd Spark expression, so
  * compatibility costs nothing at execution time.
  *
  * Index-anchored semantics follow Pinot's Java implementations where they
  * differ from Spark's (STRPOS is 0-based with -1 missing; SUBSTR/ARRAYSLICE
  * are 0-based end-exclusive; PERCENTILE takes 0–100).
  *
  * Register on a DEDICATED child session ("Pinot mode", `Graft.child`): some aliases
  * intentionally shadow Spark names with different semantics (percentile,
  * substr, concat), and a session-scoped registry keeps the ANSI surface of
  * the parent session untouched — see PinotCompatSpec.
  */
object PinotFunctions {

  /** Delegate an alias to a native Spark function by name: the analyzer
    * resolves the nested UnresolvedFunction exactly as if the user had
    * written the Spark name. */
  private def fwd(sparkName: String): Seq[Expression] => Expression =
    args => UnresolvedFunction(sparkName, args, false)

  /** `aggregate(arr, 0.0D, (acc, x) -> acc + double(x))` as an expression —
    * the float64 sequential array sum shared by ARRAYSUM and the MV aggs. */
  private def arraySum(arr: Expression): Expression = {
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    UnresolvedFunction(
      "aggregate",
      Seq(arr, Literal(0.0), LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x))),
      false)
  }

  /** Java Math.log-family edge semantics: 0 → -Infinity, negative → NaN
    * (Spark's ln/log10/log2 answer NULL outside the domain instead). */
  private def javaLog(x: Expression, fn: String): Expression = {
    val d = Cast(x, DoubleType)
    // direct Catalyst ctors — a same-name UnresolvedFunction would resolve
    // back to this temp entry and recurse
    val native: Expression = fn match {
      case "ln" => Log(d)
      case "log10" => Log10(d)
      case "log2" => Log2(d)
    }
    If(EqualTo(d, Literal(0.0)), Literal(Double.NegativeInfinity),
      If(LessThan(d, Literal(0.0)), Literal(Double.NaN), native))
  }

  /** Whole epoch units since 1970 (floor division of epoch seconds). */
  private def epochUnits(ts: Expression, secondsPerUnit: Long): Expression =
    IntegralDivide(UnixSeconds(ts), Literal(secondsPerUnit), evalMode = EvalMode.LEGACY)

  /** `(units div n) * n` — epoch value floored to the nearest n units. */
  private def epochRounded(units: Expression, n: Expression): Expression = {
    val nn = Cast(n, LongType)
    Multiply(IntegralDivide(units, nn, evalMode = EvalMode.LEGACY), nn)
  }

  /** `units div n` — the bucket index. */
  private def epochBucket(units: Expression, n: Expression): Expression =
    IntegralDivide(units, Cast(n, LongType), evalMode = EvalMode.LEGACY)

  val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // ---- date/time (C3) ----
    "datetrunc" -> (args => TruncTimestamp(args(0), args(1))),
    "toepochseconds" -> (args => UnixSeconds(args(0))),
    "toepochmillis" -> (args => UnixMillis(args(0))),
    "toepochminutes" -> (args => IntegralDivide(UnixSeconds(args(0)), Literal(60L), evalMode = EvalMode.LEGACY)),
    "toepochhours" -> (args => IntegralDivide(UnixSeconds(args(0)), Literal(3600L), evalMode = EvalMode.LEGACY)),
    "toepochdays" -> (args => IntegralDivide(UnixSeconds(args(0)), Literal(86400L), evalMode = EvalMode.LEGACY)),
    "fromepochseconds" -> (args => SecondsToTimestamp(args(0))),
    "fromepochmillis" -> (args => MillisToTimestamp(args(0))),
    // FromEpoch<Unit> for coarser units: scale back to seconds first
    // (multiply in DOUBLE then SecondsToTimestamp accepts fractional input;
    // the inputs are whole epoch units, so no precision is at stake)
    "fromepochminutes" -> (args => SecondsToTimestamp(
      Multiply(Cast(args(0), DoubleType), Literal(60.0)))),
    "fromepochhours" -> (args => SecondsToTimestamp(
      Multiply(Cast(args(0), DoubleType), Literal(3600.0)))),
    "fromepochdays" -> (args => SecondsToTimestamp(
      Multiply(Cast(args(0), DoubleType), Literal(86400.0)))),
    // ToEpoch<Unit>Rounded(ts, n) → epoch units floored to the nearest n;
    // ToEpoch<Unit>Bucket(ts, n) → the bucket INDEX (epoch units / n);
    // FromEpoch<Unit>Bucket(idx, n) → timestamp of the bucket start — the
    // Pinot granularity-bucketing trio for every epoch unit the plain
    // ToEpoch<Unit> forms above cover. Bucket size may be any integral
    // expression; division floors (LEGACY IntegralDivide, same as the
    // plain minute/hour/day forms).
    "toepochmillisrounded" -> (args => epochRounded(UnixMillis(args(0)), args(1))),
    "toepochsecondsrounded" -> (args => epochRounded(UnixSeconds(args(0)), args(1))),
    "toepochminutesrounded" -> (args => epochRounded(epochUnits(args(0), 60L), args(1))),
    "toepochhoursrounded" -> (args => epochRounded(epochUnits(args(0), 3600L), args(1))),
    "toepochdaysrounded" -> (args => epochRounded(epochUnits(args(0), 86400L), args(1))),
    "toepochmillisbucket" -> (args => epochBucket(UnixMillis(args(0)), args(1))),
    "toepochsecondsbucket" -> (args => epochBucket(UnixSeconds(args(0)), args(1))),
    "toepochminutesbucket" -> (args => epochBucket(epochUnits(args(0), 60L), args(1))),
    "toepochhoursbucket" -> (args => epochBucket(epochUnits(args(0), 3600L), args(1))),
    "toepochdaysbucket" -> (args => epochBucket(epochUnits(args(0), 86400L), args(1))),
    "fromepochmillisbucket" -> (args => MillisToTimestamp(
      Multiply(Cast(args(0), LongType), Cast(args(1), LongType)))),
    "fromepochsecondsbucket" -> (args => SecondsToTimestamp(
      Multiply(Cast(args(0), LongType), Cast(args(1), LongType)))),
    "fromepochminutesbucket" -> (args => SecondsToTimestamp(
      Multiply(Multiply(Cast(args(0), LongType), Cast(args(1), LongType)), Literal(60L)))),
    "fromepochhoursbucket" -> (args => SecondsToTimestamp(
      Multiply(Multiply(Cast(args(0), LongType), Cast(args(1), LongType)), Literal(3600L)))),
    "fromepochdaysbucket" -> (args => SecondsToTimestamp(
      Multiply(Multiply(Cast(args(0), LongType), Cast(args(1), LongType)), Literal(86400L)))),
    // Calcite TIMESTAMPADD/TIMESTAMPDIFF (multistage) need no alias: the
    // name is a parser special form, so Spark accepts the exact Pinot
    // spelling TIMESTAMPADD(HOUR, 3, ts) natively (PinotCompatSpec) — and
    // the parser would intercept any registry entry anyway
    // TIMECONVERT(value, fromUnit, toUnit) — epoch-unit rescaling with
    // Pinot's truncating integer semantics
    "timeconvert" -> (args => {
      def unitMillis(e: Expression): Long = e match {
        case Literal(s, StringType) => s.toString.toUpperCase match {
          case "MILLISECONDS" => 1L
          case "SECONDS" => 1000L
          case "MINUTES" => 60000L
          case "HOURS" => 3600000L
          case "DAYS" => 86400000L
          case other => throw new IllegalArgumentException(s"TIMECONVERT unit: $other")
        }
        case other =>
          throw new IllegalArgumentException(s"TIMECONVERT units must be literals, got $other")
      }
      val from = unitMillis(args(1))
      val to = unitMillis(args(2))
      IntegralDivide(
        Multiply(Cast(args(0), LongType), Literal(from), EvalMode.LEGACY),
        Literal(to), EvalMode.LEGACY)
    }),
    // DATETIMECONVERT(value, inFmt, outFmt, granularity) — the common
    // EPOCH->EPOCH bucketing form, e.g.
    // ('1:MILLISECONDS:EPOCH', '1:MILLISECONDS:EPOCH', '15:MINUTES')
    "datetimeconvert" -> (args => {
      def lit_(e: Expression): String = e match {
        case Literal(s, StringType) => s.toString
        case other => throw new IllegalArgumentException(s"DATETIMECONVERT args must be literals, got $other")
      }
      def unitFactor(u: String): Long = u.toUpperCase match {
        case "MILLISECONDS" => 1L
        case "SECONDS" => 1000L
        case "MINUTES" => 60000L
        case "HOURS" => 3600000L
        case "DAYS" => 86400000L
        case other => throw new IllegalArgumentException(s"unit: $other")
      }
      // "size:unit:EPOCH" or "size:unit:SIMPLE_DATE_FORMAT:pattern" —
      // split with limit 4 because SDF patterns themselves contain ':'
      // (the reference's own time column is SIMPLE_DATE_FORMAT
      // 'yyyy-MM-dd HH:mm:ss', kinesisTable.json:29)
      def parseFmt(f: String): Either[Long, String] = {
        val parts = f.split(":", 4)
        require(parts.length >= 3, s"DATETIMECONVERT format: $f")
        parts(2).toUpperCase match {
          case "EPOCH" => scala.Left(parts(0).toLong * unitFactor(parts(1)))
          case "SIMPLE_DATE_FORMAT" =>
            require(parts.length == 4, s"SIMPLE_DATE_FORMAT needs a pattern: $f")
            scala.Right(parts(3))
          case other => throw new IllegalArgumentException(s"format kind: $other")
        }
      }
      val millis = parseFmt(lit_(args(1))) match {
        case scala.Left(inMs) =>
          Multiply(Cast(args(0), LongType), Literal(inMs), EvalMode.LEGACY)
        case scala.Right(pattern) =>
          UnixMillis(new ParseToTimestamp(args(0), Literal(pattern)))
      }
      val granParts = lit_(args(3)).split(':')
      val granMs = granParts(0).toLong * unitFactor(granParts(1))
      // toMillis -> truncate to granularity -> express in the output format
      val bucketed = Multiply(
        IntegralDivide(millis, Literal(granMs), EvalMode.LEGACY),
        Literal(granMs), EvalMode.LEGACY)
      parseFmt(lit_(args(2))) match {
        case scala.Left(outMs) => IntegralDivide(bucketed, Literal(outMs), EvalMode.LEGACY)
        case scala.Right(pattern) =>
          DateFormatClass(MillisToTimestamp(bucketed), Literal(pattern))
      }
    }),
    // JSONEXTRACTKEY(col, '$.*'): the keys of the outermost object (the
    // only path shape Pinot users pass in practice; anything else errors
    // loudly rather than silently mismatching)
    "jsonextractkey" -> (args => {
      args(1) match {
        case Literal(p, StringType) if Set("$", "$.*").contains(p.toString.trim) =>
        case other => throw new IllegalArgumentException(
          s"JSONEXTRACTKEY supports the top-level path '$$.*', got $other")
      }
      UnresolvedFunction("json_object_keys", Seq(args(0)), false)
    }),
    "todatetime" -> (args => DateFormatClass(MillisToTimestamp(args(0)), args(1))),
    "fromdatetime" -> (args => UnixMillis(new ParseToTimestamp(args(0), args(1)))),
    // Pinot timestampAdd/timestampDiff (aliases dateAdd/dateDiff): unit is
    // a STRING LITERAL, but Spark's PARSER owns all four names as special
    // grammar (AstBuilder.visitTimestampadd) and hard-rejects quoted units
    // — so a ported broker query can never reach the registry under the
    // original spelling. [[rewriteTimestampArith]] (applied by the
    // endpoints to every statement, the rewriteGapfill doctrine) renames
    // string-unit calls to these parser-neutral names; Spark's native
    // identifier-unit forms and the 2-arg datediff/date_add keep parsing
    // through their own paths untouched.
    "pinot_timestamp_add" -> (args =>
      graft.expressions.PinotTimestampAdd(tsUnit(args(0)), args(1), args(2))),
    "pinot_timestamp_diff" -> (args =>
      graft.expressions.PinotTimestampDiff(tsUnit(args(0)), args(1), args(2))),
    // Pinot now() returns LONG epoch millis (not a timestamp);
    // ago('PT1H') = now() minus an ISO-8601 period, also millis
    "now" -> (_ => UnixMillis(CurrentTimestamp())),
    "ago" -> (args => {
      val period = args(0) match {
        case Literal(s, StringType) => java.time.Duration.parse(s.toString).toMillis
        case other => throw new IllegalArgumentException(
          s"ago() period must be an ISO-8601 string literal, got $other")
      }
      Subtract(UnixMillis(CurrentTimestamp()), Literal(period))
    }),
    // ---- JSON (C4) ----
    "jsonextractscalar" -> (args => {
      val extracted = GetJsonObject(args(0), args(1))
      val resultType = args(2) match {
        case Literal(s, StringType) => graft.catalog.TableSpec.mapType(s.toString)
        case _ => StringType
      }
      val casted = Cast(extracted, resultType)
      if (args.length >= 4) Coalesce(Seq(casted, Cast(args(3), resultType))) else casted
    }),
    "jsonformat" -> fwd("to_json"),
    // Pinot jsonPath* scalar family (ingestion-transform names usable in
    // queries): typed extraction along a JsonPath, null → default arg
    "jsonpathstring" -> (args => {
      val e = GetJsonObject(args(0), args(1))
      if (args.length >= 3) Coalesce(Seq(e, Cast(args(2), StringType))) else e
    }),
    "jsonpathlong" -> (args => {
      // TRY cast: under ANSI a non-numeric node would THROW, and Coalesce
      // can't catch a throw — Pinot's jsonPathLong falls to the default
      val e = Cast(GetJsonObject(args(0), args(1)), LongType, None, EvalMode.TRY)
      if (args.length >= 3) Coalesce(Seq(e, Cast(args(2), LongType)))
      else Coalesce(Seq(e, Literal(Long.MinValue))) // Pinot default when absent
    }),
    "jsonpathdouble" -> (args => {
      val e = Cast(GetJsonObject(args(0), args(1)), DoubleType, None, EvalMode.TRY)
      if (args.length >= 3) Coalesce(Seq(e, Cast(args(2), DoubleType)))
      else Coalesce(Seq(e, Literal(Double.NegativeInfinity))) // Pinot default
    }),
    // jsonPath(json, path): the untyped form — the raw node (Pinot returns
    // the Object; in SQL output position it renders as its string form,
    // which is exactly what GetJsonObject yields)
    "jsonpath" -> (args => GetJsonObject(args(0), args(1))),
    // jsonPathArray(json, path): array extraction. The node must be a JSON
    // array; elements surface as strings (Pinot yields Object[] — untyped),
    // so numeric use sites cast per element. DefaultEmpty form answers []
    // instead of null on a missing/invalid path.
    "jsonpatharray" -> (args =>
      JsonToStructs(ArrayType(StringType), Map.empty[String, String],
        GetJsonObject(args(0), args(1)))),
    "jsonpatharraydefaultempty" -> (args =>
      Coalesce(Seq(
        JsonToStructs(ArrayType(StringType), Map.empty[String, String],
          GetJsonObject(args(0), args(1))),
        Literal.create(Seq.empty[String], ArrayType(StringType))))),
    // ---- index-predicate superset (F8) ----
    // The reference deploys NO text/JSON index (kinesisTableConfigFile
    // .json:12-27), but the broker still parses TEXT_MATCH/JSON_MATCH; this
    // answers the common query forms as full-scan predicates (a superset:
    // no index required). Unsupported Lucene/filter syntax fails loudly at
    // parse time rather than silently mismatching.
    // TEXT_MATCH(col, 'lucene query'): terms (word-boundary, case-insens),
    // "phrases", trailing-* prefixes, single-operator AND/OR chains.
    "text_match" -> (args => {
      val query = args(1) match {
        case Literal(s, StringType) => s.toString.trim
        case other => throw new IllegalArgumentException(
          s"TEXT_MATCH query must be a string literal, got $other")
      }
      // parse + predicate shared with the index-accelerated path
      // (graft.sources.TextIndex), which derives candidates from the same
      // clause structure and re-applies this exact predicate
      graft.expressions.TextMatchBuilder.predicate(args(0), query)
    }),
    // TEXT_CONTAINS(col, 'term'): the native-text-index predicate — a
    // SINGLE term only (Pinot: no phrases/boolean inside; compose with SQL
    // AND/OR). Routed through the same grammar so a multi-term literal
    // fails loudly instead of silently term-matching the whole string.
    "text_contains" -> (args => {
      val term = args(1) match {
        case Literal(s, StringType) if s != null => s.toString.trim
        case other => throw new IllegalArgumentException(
          s"TEXT_CONTAINS term must be a string literal, got $other")
      }
      require(term.nonEmpty && !term.exists(_.isWhitespace),
        s"TEXT_CONTAINS takes one term (got '$term'); compose with SQL AND/OR")
      graft.expressions.TextMatchBuilder.predicate(args(0), term)
    }),
    // JSON_MATCH(col, '"$.path" <op> value'): =, !=/<>, </<=/>/>=,
    // IS [NOT] NULL over one JSON path (numbers compare numerically,
    // '...'-quoted values as strings).
    "json_match" -> (args => {
      val filter = args(1) match {
        case Literal(s, StringType) => s.toString.trim
        case other => throw new IllegalArgumentException(
          s"JSON_MATCH filter must be a string literal, got $other")
      }
      // parse + predicate shared with the index-accelerated path
      // (graft.sources.JsonIndex), which derives candidates from the same
      // grammar and re-applies this exact predicate
      graft.expressions.JsonMatchBuilder.predicate(args(0), filter)
    }),
    // ---- string (C1) ----
    // (strpos lives with the round-7 StringFunctions block below — same
    // 0-based 2-arg semantics, plus the ordinalIndexOf 3-arg form)
    "substr" -> (args =>
      if (args.length == 2) Substring(args(0), Add(args(1), Literal(1)), Literal(Int.MaxValue))
      else Substring(args(0), Add(args(1), Literal(1)), Subtract(args(2), args(1)))),
    "concat" -> (args =>
      if (args.length == 3) ConcatWs(args(2) +: args.take(2))
      else Concat(args)),
    "toutf8" -> (args => Encode(args(0), Literal("UTF-8"))),
    "fromutf8" -> (args => StringDecode(args(0), Literal("UTF-8"))),
    "encodeurl" -> fwd("url_encode"),
    "decodeurl" -> fwd("url_decode"),
    // REGEXP_EXTRACT(value, regex[, group[, default]]) — Pinot returns the
    // default (or null) on no-match where Spark returns ''; the empty-string
    // sentinel conflates a matched-empty group with no-match (documented
    // divergence, matched-empty groups are rare in practice)
    "regexpextract" -> (args => {
      val group = if (args.length >= 3) args(2) else Literal(0)
      val base = RegExpExtract(args(0), args(1), group)
      if (args.length >= 4)
        If(EqualTo(base, Literal("")), args(3), base)
      else base
    }),
    // Pinot 1.2 string generators (builders shared with the graft Column
    // API — graft.expressions.StringGenerators): prefixes/suffixes/
    // uniqueNgrams return arrays (empty, never error, on short input);
    // SPLITPART drops empty tokens (commons splitByWholeSeparator) and is
    // 0-based with the literal "null" out of bounds; ISJSON accepts scalar
    // JSON literals like Pinot's JsonFunctions.isJson.
    "splitpart" -> (args =>
      graft.expressions.StringGenerators.splitPart(args(0), args(1), args(2))),
    // Pinot split(input, delimiter[, limit]): LITERAL whole-separator split
    // with empty tokens dropped (commons splitByWholeSeparator) — Spark's
    // native split is regex-based, a silent porting trap ('.' delimiter!).
    // The limit form carries the remainder in the last token (commons),
    // which composition can't express → eval-exact SplitWholeLimit.
    "split" -> (args =>
      if (args.length >= 3)
        graft.expressions.SplitWholeLimit(args(0), args(1), Cast(args(2), IntegerType))
      else graft.expressions.StringGenerators.splitWhole(args(0), args(1))),
    // Pinot strpos(input, find[, instance]): Java indexOf conventions —
    // 0-based, -1 when absent; 3-arg = commons ordinalIndexOf
    "strpos" -> (args =>
      if (args.length >= 3)
        graft.expressions.StrPosOrdinal(args(0), args(1), Cast(args(2), IntegerType))
      else Subtract(Cast(StringInstr(args(0), args(1)), IntegerType), Literal(1))),
    // Pinot remove(input, search) = delete every occurrence
    "remove" -> (args => StringReplace(args(0), args(1), Literal(""))),
    // Pinot strrpos(input, find[, instance]): Java lastIndexOf conventions —
    // 0-based, -1 absent; 3-arg counts the instance-th occurrence FROM THE
    // END (commons lastOrdinalIndexOf; instance 1 == plain lastIndexOf)
    "strrpos" -> (args =>
      graft.expressions.StrRPosOrdinal(args(0), args(1),
        if (args.length >= 3) Cast(args(2), IntegerType) else Literal(1))),
    // Pinot hammingDistance: -1 on unequal lengths, else differing chars
    "hammingdistance" -> (args =>
      graft.expressions.HammingDistanceStr(args(0), args(1))),
    // Pinot normalize(str[, form]) — java.text.Normalizer, NFC default
    "normalize" -> (args => graft.expressions.NormalizeStr(args(0),
      if (args.length >= 2) args(1) else Literal("NFC"))),
    // Pinot bytesToHex renders LOWERCASE hex (BytesUtils); Spark's Hex is
    // uppercase — wrap. hexToBytes = Unhex.
    "bytestohex" -> (args => Lower(Hex(args(0)))),
    "hextobytes" -> (args => Unhex(args(0))),
    // ---- Pinot ArithmeticFunctions (ClickHouse-inspired spellings) ----
    // guarded forms answer 0 on a zero divisor instead of the ANSI error
    "intdiv" -> (args => IntegralDivide(args(0), args(1))),
    "intdivorzero" -> (args =>
      If(EqualTo(Cast(args(1), DoubleType), Literal(0.0)), Literal(0L),
        IntegralDivide(args(0), args(1)))),
    "moduloorzero" -> (args =>
      If(EqualTo(Cast(args(1), DoubleType), Literal(0.0)), Literal(0L),
        Remainder(Cast(args(0), LongType), Cast(args(1), LongType)))),
    "positivemodulo" -> (args =>
      Pmod(Cast(args(0), LongType), Cast(args(1), LongType))),
    "isinfinite" -> (args =>
      EqualTo(Abs(Cast(args(0), DoubleType)), Literal(Double.PositiveInfinity))),
    "isfinite" -> (args => {
      val d = Cast(args(0), DoubleType)
      Not(Or(IsNaN(d), EqualTo(Abs(d), Literal(Double.PositiveInfinity))))
    }),
    "ifnotfinite" -> (args => {
      // ifNotFinite(value, default): Pinot's guard for the div/ln family —
      // NaN/±Inf fall to the default, both sides evaluated in DOUBLE
      val d = Cast(args(0), DoubleType)
      If(Or(IsNaN(d), EqualTo(Abs(d), Literal(Double.PositiveInfinity))),
        Cast(args(1), DoubleType), d)
    }),
    // Pinot ln/log10/log2 are raw java.lang.Math calls: 0 → -Infinity,
    // negative → NaN. Spark's return NULL outside the domain — a silent
    // divergence for ported filters like `ln(x) > -10`, so shadow them.
    "ln" -> (args => javaLog(args(0), "ln")),
    "log10" -> (args => javaLog(args(0), "log10")),
    "log2" -> (args => javaLog(args(0), "log2")),
    // Pinot ArithmeticFunctions verb spellings: DOUBLE arithmetic (the Java
    // signatures take double — `div` is float division, NOT Spark SQL's
    // integral `div` operator; `mod` is IEEE remainder, not Pmod)
    "add" -> (args => Add(Cast(args(0), DoubleType), Cast(args(1), DoubleType))),
    "sub" -> (args => Subtract(Cast(args(0), DoubleType), Cast(args(1), DoubleType))),
    "mult" -> (args => Multiply(Cast(args(0), DoubleType), Cast(args(1), DoubleType))),
    // IEEE zero-divisor edges spelled out: Java x/0 is ±Inf (NaN for 0/0)
    // and x%0 is NaN, where Spark answers NULL (legacy) or throws (ANSI)
    "div" -> (args => {
      val da = Cast(args(0), DoubleType); val db = Cast(args(1), DoubleType)
      If(EqualTo(db, Literal(0.0)),
        If(Or(IsNaN(da), EqualTo(da, Literal(0.0))), Literal(Double.NaN),
          If(GreaterThan(da, Literal(0.0)), Literal(Double.PositiveInfinity),
            Literal(Double.NegativeInfinity))),
        Divide(da, db, EvalMode.LEGACY))
    }),
    "mod" -> (args => {
      val da = Cast(args(0), DoubleType); val db = Cast(args(1), DoubleType)
      If(EqualTo(db, Literal(0.0)), Literal(Double.NaN),
        Remainder(da, db, EvalMode.LEGACY))
    }),
    // roundDecimal(x[, scale]): BigDecimal.valueOf(x).setScale(HALF_UP) —
    // bit-identical to Spark's native round over DOUBLE (probe-verified
    // shortest-repr HALF_UP semantics); the input cast matters — a bare
    // 2.345 literal is DECIMAL, and decimal round would return DECIMAL
    "rounddecimal" -> (args =>
      UnresolvedFunction("round", Cast(args(0), DoubleType) +: args.tail, false)),
    // ---- Pinot DateTimeFunctions field extractors ----
    // year(millis[, tz]) family: EPOCH MILLIS input, UTC default, ISO
    // week/dow semantics (Joda). Polymorphic on the resolved input type so
    // Spark-spelled year(DATE/TIMESTAMP) keeps working on this session
    // (timestamps read in the tz ARG, default UTC = this repo's pinned
    // session zone; dayOfWeek is ISO Monday=1, Pinot's convention, NOT
    // Spark's Sunday=1).
    "year" -> epochField("year"), "yearofweek" -> epochField("yearofweek"),
    "yow" -> epochField("yearofweek"), "quarter" -> epochField("quarter"),
    "month" -> epochField("month"), "monthofyear" -> epochField("month"),
    "week" -> epochField("week"), "weekofyear" -> epochField("week"),
    "dayofyear" -> epochField("dayofyear"), "doy" -> epochField("dayofyear"),
    "day" -> epochField("day"), "dayofmonth" -> epochField("day"),
    "dayofweek" -> epochField("dayofweek"), "dow" -> epochField("dayofweek"),
    "hour" -> epochField("hour"), "minute" -> epochField("minute"),
    "second" -> epochField("second"), "millisecond" -> epochField("millisecond"),
    // timezoneHour/timezoneMinute(tzId[, millis]): zone offset parts at
    // millis (epoch 0 default), Pinot's TimeUnit arithmetic
    "timezonehour" -> (args => graft.expressions.TimezoneOffsetPart(
      minutePart = false, args(0),
      if (args.length >= 2) Cast(args(1), LongType) else Literal(0L))),
    "timezoneminute" -> (args => graft.expressions.TimezoneOffsetPart(
      minutePart = true, args(0),
      if (args.length >= 2) Cast(args(1), LongType) else Literal(0L))),
    "prefixes" -> (args =>
      graft.expressions.StringGenerators.prefixes(args(0), args(1))),
    "suffixes" -> (args =>
      graft.expressions.StringGenerators.suffixes(args(0), args(1))),
    "uniquengrams" -> (args =>
      if (args.length == 3)
        graft.expressions.StringGenerators.uniqueNgrams(args(0), args(1), args(2))
      else graft.expressions.StringGenerators.uniqueNgrams(args(0), args(1))),
    "isjson" -> (args => graft.expressions.StringGenerators.isJson(args(0))),
    // Pinot InetAddressFunctions: CIDR containment, IPv4 + IPv6
    "issubnetof" -> (args => graft.expressions.IsSubnetOf(args(0), args(1))),
    // Pinot HashFunctions with no Spark native (MD5/CRC32/SHA/SHA2 resolve
    // natively with identical semantics; SHA224 delegates to sha2(x, 224))
    "adler32" -> (args => graft.expressions.Adler32(args(0))),
    "crc32c" -> (args => graft.expressions.Crc32C(args(0))),
    "murmurhash2" -> (args => graft.expressions.Murmur2(args(0))),
    "murmurhash2utf8" -> (args => graft.expressions.Murmur2(args(0))),
    "murmurhash3bit32" -> (args => {
      val seed = args(1) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"MURMURHASH3BIT32 seed must be an integer literal, got $other")
      }
      graft.expressions.Murmur3Bit32(args(0), seed)
    }),
    "sha224" -> (args => Sha2(args(0), Literal(224))),
    // ---- geospatial points (C9) ----
    // Pinot's geography point surface (ST_Point(x=lon, y=lat [, isGeog]),
    // ST_Distance → METERS via great-circle): points are (x, y) double
    // structs, distance is the haversine with the shared EarthRadiusMeters
    // constant — identical math to graft.functions.haversine_meters, so the
    // SQL-surface and Column-surface agree bit-for-bit. Polygon ops are out
    // of scope (no geo data anywhere in the reference model, SURVEY.md C9);
    // the point family is what the reference's event-analytics shape uses.
    "st_point" -> (args =>
      CreateNamedStruct(Seq(
        Literal("x"), Cast(args(0), DoubleType),
        Literal("y"), Cast(args(1), DoubleType)))),
    "st_x" -> (args => UnresolvedExtractValue(args(0), Literal("x"))),
    "st_y" -> (args => UnresolvedExtractValue(args(0), Literal("y"))),
    // point AND polygon shapes, dispatched on the resolved input type
    // (expressions/GeoExpressions.StAsText; exact WKT round-trip)
    "st_astext" -> (args => graft.expressions.StAsText(args(0))),
    "st_geogfromtext" -> (args => {
      val num = "([-+0-9.eE]+)"
      val pat = Literal(s"POINT \\($num $num\\)")
      CreateNamedStruct(Seq(
        Literal("x"), Cast(RegExpExtract(args(0), pat, Literal(1)), DoubleType),
        Literal("y"), Cast(RegExpExtract(args(0), pat, Literal(2)), DoubleType)))
    }),
    "st_distance" -> (args => {
      def x(e: Expression) = UnresolvedExtractValue(e, Literal("x"))
      def y(e: Expression) = UnresolvedExtractValue(e, Literal("y"))
      def rad(e: Expression) = Multiply(Cast(e, DoubleType), Literal(math.Pi / 180.0))
      val dLat = Subtract(rad(y(args(1))), rad(y(args(0))))
      val dLon = Subtract(rad(x(args(1))), rad(x(args(0))))
      val s1 = Sin(Divide(dLat, Literal(2.0)))
      val s2 = Sin(Divide(dLon, Literal(2.0)))
      // association mirrors haversine_meters exactly (((cosA·cosB)·s2)·s2)
      // so SQL-surface and Column-surface distances are bit-identical
      val h = Add(
        Multiply(s1, s1),
        Multiply(Multiply(Multiply(Cos(rad(y(args(0)))), Cos(rad(y(args(1))))), s2), s2))
      Multiply(Literal(2.0 * graft.functions.EarthRadiusMeters), Asin(Sqrt(h)))
    }),
    // CLP log columns (round 6 — expressions/ClpExpressions): Pinot's
    // CLPDECODE(logtype, dictionaryVars, encodedVars[, default]) over the
    // three-column CLP model, plus the encoder that produces it
    "clpdecode" -> (args => {
      val d = graft.expressions.ClpDecode(args(0), args(1), args(2))
      if (args.length >= 4) Coalesce(Seq(d, args(3))) else d
    }),
    "clpencode" -> (args => graft.expressions.ClpEncode(args(0))),
    // Polygon family (round 6 — expressions/GeoExpressions): polygons are
    // array<struct<x,y>> ring vertices; containment = canonical even-odd
    // ray cast, area = planar shoelace. ST_GeomFromText parses POLYGON WKT
    // (points keep ST_GeogFromText above); ST_Within(point, poly) is
    // containment with the Pinot argument order.
    "st_geomfromtext" -> (args => graft.expressions.StPolygonFromText(args(0))),
    "st_contains" -> (args => graft.expressions.StContains(args(0), args(1))),
    "st_within" -> (args => graft.expressions.StContains(args(1), args(0))),
    "st_area" -> (args => graft.expressions.StArea(args(0))),
    // ---- binary/hash (C7) ----
    "tobase64" -> (args => Base64(args(0))),
    "frombase64" -> (args => UnBase64(args(0))),
    "sha" -> (args => Sha1(args(0))),
    "sha256" -> (args => Sha2(args(0), Literal(256))),
    "sha512" -> (args => Sha2(args(0), Literal(512))),
    // ---- array / MV (C5, C6) ----
    "arraylength" -> (args => Size(args(0))),
    "arraymin" -> fwd("array_min"),
    "arraymax" -> fwd("array_max"),
    "arraysum" -> (args => arraySum(args(0))),
    "arraydistinct" -> fwd("array_distinct"),
    "arraysort" -> fwd("sort_array"),
    "arrayconcat" -> fwd("concat"),
    "arrayreverse" -> fwd("reverse"),
    "arrayslice" -> (args =>
      Slice(args(0), Add(args(1), Literal(1)), Subtract(args(2), args(1)))),
    // Pinot 1.2 ArrayFunctions spells every MV op with a TYPED suffix
    // (arrayConcatInt/Long/Float/Double/String, …) — each is the same
    // operation on a differently-typed values array, so they all alias the
    // generic builder (Spark's array ops are generic over element type)
    "arrayreverseint" -> fwd("reverse"),
    "arrayreversestring" -> fwd("reverse"),
    "arraysortint" -> fwd("sort_array"),
    "arraysortstring" -> fwd("sort_array"),
    "arraydistinctint" -> fwd("array_distinct"),
    "arraydistinctstring" -> fwd("array_distinct"),
    "arrayconcatint" -> fwd("concat"),
    "arrayconcatlong" -> fwd("concat"),
    "arrayconcatfloat" -> fwd("concat"),
    "arrayconcatdouble" -> fwd("concat"),
    "arrayconcatstring" -> fwd("concat"),
    "arraysliceint" -> (args =>
      Slice(args(0), Add(args(1), Literal(1)), Subtract(args(2), args(1)))),
    "arrayslicestring" -> (args =>
      Slice(args(0), Add(args(1), Literal(1)), Subtract(args(2), args(1)))),
    "arraysumint" -> (args => arraySum(args(0))),
    "arraysumlong" -> (args => arraySum(args(0))),
    // arrayElementAt: 1-BASED — Pinot's ArrayFunctions.arrayElementAt*
    // return values[idx - 1] (the Presto element_at convention), unlike its
    // 0-based arrayIndexOf/arraySlice which delegate to Java's 0-based
    // utilities. Pinot throws AIOOBE on an out-of-range index; here any
    // invalid index (OOB, zero, negative) softens to null — Spark's
    // element_at treats negatives as from-the-end, which would silently
    // return the WRONG element for a Pinot caller, so idx < 1 is nulled
    // explicitly rather than forwarded.
    "arrayelementatint" -> (args => elementAt1Based(args)),
    "arrayelementatlong" -> (args => elementAt1Based(args)),
    "arrayelementatstring" -> (args => elementAt1Based(args)),
    "codepoint" -> (args => Ascii(args(0))),
    "arraycontainsint" -> (args => ArrayContains(args(0), args(1))),
    "arraycontainsstring" -> (args => ArrayContains(args(0), args(1))),
    // Pinot arrayIndexOf* is 0-based with -1 for missing; Spark
    // array_position is 1-based with 0 for missing — shift by one
    "arrayindexofint" -> (args => Subtract(ArrayPosition(args(0), args(1)), Literal(1L))),
    "arrayindexofstring" -> (args => Subtract(ArrayPosition(args(0), args(1)), Literal(1L))),
    "valuein" -> (args => ArrayIntersect(args(0), CreateArray(args.drop(1)))),
    "mapvalue" -> fwd("element_at"),
    // ---- lookup join (C10/J6) ----
    // lookUp('dimTable', 'valueCol', 'joinKeyCol', keyExpr): expands into a
    // correlated scalar subquery over the dimension table; Catalyst's
    // RewriteCorrelatedScalarSubquery then turns it into a left outer join,
    // and the (small) dim side broadcasts by stats — exactly the reference's
    // dimension-lookup join (SURVEY.md §2.3 J6, §4 "custom Rule" candidate).
    "lookup" -> (args => {
      def str(e: Expression, what: String): String = e match {
        case Literal(s, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"lookup(): $what must be a string literal, got $other")
      }
      val dim = str(args(0), "dimension table name")
      val valueCol = str(args(1), "value column")
      val keyCol = str(args(2), "join key column")
      val keyExpr = args(3)
      // mark the fact-side key as a correlated outer reference
      val corrKey = keyExpr.transform { case a: AttributeReference => OuterReference(a) }
      val sub = Aggregate(
        Nil,
        Seq(Alias(Max(UnresolvedAttribute(valueCol)).toAggregateExpression(), "lookup_value")()),
        Filter(EqualTo(UnresolvedAttribute(keyCol), corrKey), UnresolvedRelation(Seq(dim))))
      ScalarSubquery(sub, outerAttrs = keyExpr.references.toSeq)
    }),
    // ---- aggregates (A-family) ----
    "distinctcount" -> (args => Count(args).toAggregateExpression(isDistinct = true)),
    "distinctcountbitmap" -> (args => Count(args).toAggregateExpression(isDistinct = true)),
    // SEGMENT_PARTITIONED_DISTINCT_COUNT: Pinot sums per-segment distincts,
    // exact ONLY under its own precondition (the column is partitioned so
    // no value spans segments) — under that precondition the sum equals the
    // exact distinct count, so the safe mapping is exact COUNT(DISTINCT)
    // (same answer wherever Pinot's form is correct; never silently wrong
    // where the precondition fails). The partition-exploiting physical
    // shape lives in q_agg_segpart_distinct's mapPartitions kernel.
    "segmentpartitioneddistinctcount" ->
      (args => Count(args).toAggregateExpression(isDistinct = true)),
    "distinctcounthll" -> fwd("approx_count_distinct"),
    "distinctcountsmarthll" -> fwd("approx_count_distinct"),
    // real mergeable theta sketches (expressions/ThetaSketchExpressions) —
    // estimate out for the DISTINCT form, raw persistable binary for RAW,
    // plus the scalar set algebra Pinot exposes for stored sketches
    // full Pinot broker argument form: (col [, 'nominalEntries=K'
    // [, 'pred1', ..., 'predN' [, 'SET_OP($1,...,$N)']]]) — one FILTERed
    // theta aggregate per predicate string, scalar set algebra over the
    // $i references (ThetaSketchSql); bare (col) stays the 1-arg form
    "distinctcountthetasketch" -> (args =>
      graft.expressions.ThetaSketchSql.build(args, raw = false)),
    "distinctcountrawthetasketch" -> (args =>
      graft.expressions.ThetaSketchSql.build(args, raw = true)),
    "thetasketchestimate" -> (args => graft.expressions.ThetaSketchEstimate(args(0))),
    "thetasketchunion" -> (args => args.reduceLeft(
      graft.expressions.ThetaSetOp(_, _, "union"))),
    "thetasketchintersect" -> (args => args.reduceLeft(
      graft.expressions.ThetaSetOp(_, _, "intersect"))),
    "thetasketchdiff" -> (args => graft.expressions.ThetaSetOp(args(0), args(1), "anotb")),
    // real DataSketches CPC (expressions/CpcSketchExpressions) — estimate
    // out for the DISTINCT form, persistable binary for RAW
    "distinctcountcpcsketch" -> (args => graft.expressions.CpcSketchEstimate(
      graft.expressions.CpcSketchAgg(args(0)).toAggregateExpression())),
    "distinctcountrawcpcsketch" -> (args =>
      graft.expressions.CpcSketchAgg(args(0)).toAggregateExpression()),
    "cpcsketchunion" -> (args => args.reduceLeft(
      graft.expressions.CpcScalarUnion(_, _))),
    "cpcsketchestimate" -> (args => graft.expressions.CpcSketchEstimate(args(0))),
    // UltraLogLog / HLL++ share the estimate contract; Spark's HLL++
    // serves both
    "distinctcountull" -> fwd("approx_count_distinct"),
    "distinctcounthllplus" -> fwd("approx_count_distinct"),
    "distinctcountrawhllplus" -> fwd("hll_sketch_agg"),
    // integer-sum TUPLE sketches (expressions/TupleSketchExpressions): the
    // Pinot forms consume a BYTES column of serialized sketches, so each
    // alias wraps the stored-column union-merge
    "distinctcounttuplesketch" -> (args => graft.expressions.TupleSketchEstimate(
      graft.expressions.TupleUnionAgg(args(0)).toAggregateExpression())),
    "distinctcountrawintegersumtuplesketch" -> (args =>
      graft.expressions.TupleUnionAgg(args(0)).toAggregateExpression()),
    "sumvaluesintegersumtuplesketch" -> (args => graft.expressions.TupleSketchSumValues(
      graft.expressions.TupleUnionAgg(args(0)).toAggregateExpression())),
    "avgvalueintegersumtuplesketch" -> (args => graft.expressions.TupleSketchAvgValue(
      graft.expressions.TupleUnionAgg(args(0)).toAggregateExpression())),
    // frequent-strings sketch (expressions/FreqSketchExpressions): Pinot
    // returns the serialized sketch bytes for client-side merging
    "frequentstringssketch" -> (args =>
      graft.expressions.FreqSketchAgg(args(0)).toAggregateExpression()),
    // longs variant rides the same Misra–Gries kernel over the decimal
    // string form (raw-bytes format divergence documented, like RAWTDIGEST)
    "frequentlongssketch" -> (args =>
      graft.expressions.FreqSketchAgg(Cast(args(0), StringType)).toAggregateExpression()),
    // Pinot 1.2 scalar vector family (VectorFunctions, the vector-index
    // sidecar): distances/norms over float[] embeddings — codegen'd
    // kernels shared with the X2 similarity operators
    "cosinedistance" -> (args => Coalesce(Seq(
      Subtract(Literal(1.0), graft.expressions.CosineSimilarity(args(0), args(1))),
      if (args.size >= 3) Cast(args(2), DoubleType) else Literal(Double.NaN)))),
    "innerproduct" -> (args => graft.expressions.DotProduct(args(0), args(1))),
    "l1distance" -> (args => graft.expressions.MinkowskiDistance(args(0), args(1), 1)),
    "l2distance" -> (args => graft.expressions.MinkowskiDistance(args(0), args(1), 2)),
    // VECTOR_SIMILARITY(vecCol, ARRAY[...], topK) — Pinot's vector-INDEX
    // predicate; the marker is rewritten by plans.VectorSimilarityRule
    // (AnnIndex route when registered, exact brute-force top-k otherwise)
    "vector_similarity" -> (args =>
      graft.plans.VectorSimilarityPredicate(args(0), args(1), args(2))),
    "vectordims" -> fwd("size"),
    "vectornorm" -> (args => graft.expressions.VectorNorm(args(0))),
    "vectornorms" -> (args => graft.expressions.VectorNorm(args(0))),
    // raw serialized sketch out (Pinot returns the sketch bytes for
    // client-side merging; ours is the DataSketches HLL binary — mergeable
    // with hll_union/hll_union_agg, estimable with hll_sketch_estimate)
    "distinctcountrawhll" -> fwd("hll_sketch_agg"),
    "minmaxrange" -> (args => Subtract(
      Max(args(0)).toAggregateExpression(), Min(args(0)).toAggregateExpression())),
    // Pinot 1.2 DISTINCTSUM / DISTINCTAVG: sum/avg over the distinct values
    "distinctsum" -> (args => Sum(args(0)).toAggregateExpression(isDistinct = true)),
    "distinctavg" -> (args => Average(args(0)).toAggregateExpression(isDistinct = true)),
    "sumprecision" -> (args =>
      Sum(Cast(args(0), DecimalType(38, 18))).toAggregateExpression()),
    "percentile" -> (args =>
      new Percentile(args(0), Divide(Cast(args(1), DoubleType), Literal(100.0)))
        .toAggregateExpression()),
    "percentileest" -> pctApprox,
    "percentiletdigest" -> pctApprox,
    // SMART variant serves exact below Pinot's threshold, sketch above —
    // percentile_approx at accuracy 10000 covers both regimes within the
    // documented error envelope (the adaptive switch itself is exercised
    // by q_sketch_smart for the HLL twin)
    "percentilesmarttdigest" -> pctApprox,
    // real DataSketches KLL (expressions/KllSketchExpressions): proven
    // rank-error bound + mergeable serialized state for the RAW form
    "percentilekll" -> (args => graft.expressions.KllQuantile(
      graft.expressions.KllSketchAgg(args(0)).toAggregateExpression(),
      Divide(Cast(args(1), DoubleType), Literal(100.0)))),
    "percentilerawkll" -> (args =>
      graft.expressions.KllSketchAgg(args(0)).toAggregateExpression()),
    // RAW TDigest form: Pinot returns its serialized t-digest; our raw
    // quantile-sketch interchange format is the KLL binary (same contract —
    // opaque mergeable bytes the client feeds back into PERCENTILEKLL /
    // kll_merge_agg), so the RAWTDIGEST name maps onto it (documented
    // format divergence, COVERAGE.md A7)
    "percentilerawtdigest" -> (args =>
      graft.expressions.KllSketchAgg(args(0)).toAggregateExpression()),
    // RAW EST form: Pinot's PERCENTILEEST family is QuantileDigest-backed;
    // the registry maps EST onto KLL (same role: mergeable quantile sketch
    // with proven rank error), so RAWEST emits the same KLL binary as the
    // other raw quantile forms (one interchange format, COVERAGE.md A7)
    "percentilerawest" -> (args =>
      graft.expressions.KllSketchAgg(args(0)).toAggregateExpression()),
    // Pinot ARG_MIN/ARG_MAX(measuring, projection): the projection value on
    // the row where the measuring expression is minimal/maximal
    "arg_min" -> (args => MinBy(args(1), args(0)).toAggregateExpression()),
    "arg_max" -> (args => MaxBy(args(1), args(0)).toAggregateExpression()),
    // pre-1.2 spellings of the same pair
    "exprmin" -> (args => MinBy(args(1), args(0)).toAggregateExpression()),
    "exprmax" -> (args => MaxBy(args(1), args(0)).toAggregateExpression()),
    // arrayAgg(col, 'dataType'[, distinct]): Pinot's typed value-list
    // aggregate — the type literal is Pinot's stored-type declaration, so
    // honor it with a cast; element ORDER is engine-arrival order in both
    // systems (unspecified — sort at the use site for determinism)
    "arrayagg" -> (args => {
      val dt = args(1) match {
        case Literal(s, StringType) if s != null =>
          graft.catalog.TableSpec.mapType(s.toString)
        case other => throw new IllegalArgumentException(
          s"arrayAgg dataType must be a string literal, got $other")
      }
      val distinct = args.length >= 3 && (args(2) match {
        case Literal(b: Boolean, BooleanType) => b
        case Literal(s, StringType) if s != null => s.toString.toBoolean
        case other => throw new IllegalArgumentException(
          s"arrayAgg distinct flag must be a literal, got $other")
      })
      val child = Cast(args(0), dt)
      if (distinct) CollectSet(child).toAggregateExpression()
      else CollectList(child).toAggregateExpression()
    }),
    // camel spellings of the ANSI bool aggregates (Pinot's registry is
    // underscore-insensitive; Spark's is not)
    "booland" -> fwd("bool_and"),
    "boolor" -> fwd("bool_or"),
    // Pinot spells it without the underscore; 3-arg and 4-arg (start pos)
    // forms map directly, the occurrence/flags extensions do not exist in
    // Spark and error loudly rather than silently diverge
    "regexpreplace" -> (args =>
      if (args.length <= 4) UnresolvedFunction("regexp_replace", args, false)
      else throw new IllegalArgumentException(
        "REGEXPREPLACE occurrence/flags arguments are not supported")),
    // Pinot ArrayFunctions set ops (typed names share one generic impl)
    "arrayunionint" -> fwd("array_union"),
    "arrayunionstring" -> fwd("array_union"),
    "arrayremoveint" -> fwd("array_remove"),
    "arrayremovestring" -> fwd("array_remove"),
    // HISTOGRAM(col, lower, upper, numBins) equal-width, or
    // HISTOGRAM(col, ARRAY[e0, e1, ...]) explicit edges — DOUBLE[] counts,
    // bins [e_i, e_{i+1}) with the LAST bin upper-inclusive (Pinot
    // HistogramAggregationFunction convention); out-of-range values are
    // not counted. Compiles to one Sum per bin (map-side partial, no
    // second pass over the data).
    "histogram" -> (args => {
      def dbl(e: Expression): Double = e match {
        case Literal(v, _) if v != null => v.toString.toDouble
        case other => throw new IllegalArgumentException(
          s"HISTOGRAM bounds must be numeric literals, got $other")
      }
      val edges: Seq[Double] =
        if (args.length == 4) {
          val lo = dbl(args(1)); val hi = dbl(args(2)); val n = dbl(args(3)).toInt
          require(n > 0 && hi > lo, "HISTOGRAM needs upper > lower and bins > 0")
          (0 to n).map(i => lo + i * (hi - lo) / n)
        } else args(1) match {
          case CreateArray(children, _) => children.map(dbl)
          case other => throw new IllegalArgumentException(
            s"HISTOGRAM edges must be an array literal, got $other")
        }
      require(edges.length >= 2, "HISTOGRAM needs at least 2 bin edges")
      require(edges.sliding(2).forall(p => p.head < p.last),
        s"HISTOGRAM edges must be strictly increasing: ${edges.mkString(",")}")
      val v = Cast(args(0), DoubleType)
      val counts = edges.sliding(2).zipWithIndex.map { case (pair, i) =>
        val (a, b) = (pair.head, pair.last)
        val upper =
          if (i == edges.length - 2) LessThanOrEqual(v, Literal(b))
          else LessThan(v, Literal(b))
        Cast(
          Sum(If(And(GreaterThanOrEqual(v, Literal(a)), upper),
            Literal(1L), Literal(0L))).toAggregateExpression(),
          DoubleType)
      }.toSeq
      CreateArray(counts)
    }),
    // IdSet pair: ID_SET aggregates to the serialized set literal the client
    // carries away; IN_ID_SET filters by membership in such a literal
    // (expressions/IdSetExpressions — sorted varint codec, binary search)
    "id_set" -> (args =>
      graft.expressions.IdSetSerialize(CollectSet(args(0)).toAggregateExpression())),
    "in_id_set" -> (args => graft.expressions.InIdSet(args(0), args(1))),
    "idset" -> (args =>
      graft.expressions.IdSetSerialize(CollectSet(args(0)).toAggregateExpression())),
    "firstwithtime" -> (args => MinBy(args(0), args(1)).toAggregateExpression()),
    "lastwithtime" -> (args => MaxBy(args(0), args(1)).toAggregateExpression()),
    "countmv" -> (args => Sum(Cast(Size(args(0)), LongType)).toAggregateExpression()),
    "summv" -> (args => Sum(arraySum(args(0))).toAggregateExpression()),
    "minmv" -> (args => Min(UnresolvedFunction("array_min", Seq(args(0)), false)).toAggregateExpression()),
    "maxmv" -> (args => Max(UnresolvedFunction("array_max", Seq(args(0)), false)).toAggregateExpression()),
    "avgmv" -> (args => Divide(
      Sum(arraySum(args(0))).toAggregateExpression(),
      Sum(Cast(Size(args(0)), DoubleType)).toAggregateExpression())),
    // MV distinct/percentile family — real per-element aggregates (no
    // explode; graft.expressions.MvAggs, shared with the Column API)
    "distinctcountmv" -> (args => graft.expressions.MvAggs.distinctCountMv(args(0))),
    // BITMAPMV is Pinot's exact MV distinct (bitmap = exact set), same
    // contract as DISTINCTCOUNTMV here
    "distinctcountbitmapmv" -> (args => graft.expressions.MvAggs.distinctCountMv(args(0))),
    "distinctcounthllmv" -> (args => graft.expressions.MvAggs.distinctCountHllMv(args(0))),
    "distinctsummv" -> (args => graft.expressions.MvAggs.distinctSumMv(args(0))),
    "distinctavgmv" -> (args => graft.expressions.MvAggs.distinctAvgMv(args(0))),
    "percentilemv" -> (args => graft.expressions.MvAggs.percentileMv(args(0), args(1))),
    "percentilekllmv" -> (args => graft.expressions.MvAggs.percentileKllMv(args(0), args(1))),
    "percentileestmv" -> (args => graft.expressions.MvAggs.percentileKllMv(args(0), args(1))),
    "percentiletdigestmv" -> (args => graft.expressions.MvAggs.percentileKllMv(args(0), args(1))),
    "minmaxrangemv" -> (args => graft.expressions.MvAggs.minMaxRangeMv(args(0))),
    // Funnel aggregates — Pinot funnelMaxStep(ts, windowSize, numSteps,
    // step1, …, stepN) family as one TypedImperativeAggregate
    // (expressions/FunnelExpressions; greedy-min chain semantics, shared
    // with ops.Funnel and FunnelSqlSpec-proven against it)
    "funnelmaxstep" -> graft.expressions.FunnelAggs.sqlBuilder(
      graft.expressions.FunnelAgg.MaxStep),
    "funnelmatchstep" -> graft.expressions.FunnelAggs.sqlBuilder(
      graft.expressions.FunnelAgg.MatchStep),
    "funnelcompletecount" -> graft.expressions.FunnelAggs.sqlBuilder(
      graft.expressions.FunnelAgg.Complete),
    // the per-transition duration vector (−1 = unreached) that Pinot's
    // funnelStepDurationStats statistics summarize
    "funnelstepdurations" -> graft.expressions.FunnelAggs.sqlBuilder(
      graft.expressions.FunnelAgg.Durations),
    // FUNNEL_COUNT(STEPS(p1, ..., pn), CORRELATE_BY(col), SETTINGS(...)) —
    // Pinot's order-free set-intersection funnel (counts(k) = distinct
    // correlated ids matching steps 1..k+1); Pinot canonicalizes function
    // names case- and underscore-insensitively, so both spellings register.
    // STEPS/CORRELATE_BY/SETTINGS resolve to FunnelArgMarker carriers whose
    // CHILDREN the analyzer resolves normally (they are row expressions).
    "funnelcount" -> graft.expressions.FunnelCountAgg.sqlBuilder _,
    "funnel_count" -> graft.expressions.FunnelCountAgg.sqlBuilder _,
    "steps" -> (args => graft.expressions.FunnelArgMarker("steps", args)),
    "correlate_by" -> (args => graft.expressions.FunnelArgMarker("correlate_by", args)),
    "correlateby" -> (args => graft.expressions.FunnelArgMarker("correlate_by", args)),
    "settings" -> (args => graft.expressions.FunnelArgMarker("settings", args)))

  /** timestampAdd/timestampDiff unit: a string literal, validated loudly
    * at registry-build time (TimestampArithKernels.unitId throws on an
    * unknown unit). */
  private def tsUnit(e: Expression): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"timestampAdd/timestampDiff unit must be a string literal, got $other")
  }

  /** Pinot DateTimeFunctions field extractor builder (epoch millis + UTC
    * default zone; see the registry comment). */
  private def epochField(field: String): Seq[Expression] => Expression = args =>
    graft.expressions.EpochField(field, args(0),
      if (args.length >= 2) Cast(args(1), StringType) else Literal("UTC"))

  /** Pinot arrayElementAt semantics: 1-based access, invalid index → null
    * (see the registry comment; Spark's from-the-end negative indexing is
    * explicitly blocked). */
  private def elementAt1Based(args: Seq[Expression]): Expression = {
    val idx = Cast(args(1), IntegerType)
    If(GreaterThanOrEqual(idx, Literal(1)),
      UnresolvedFunction("try_element_at", Seq(args(0), idx), false),
      Literal.create(null, NullType))
  }

  /** Default serialized-IdSet budget for IN_SUBQUERY (4 MiB): a set that
    * big is no longer a selective broker-side filter and belongs in a
    * semi-join. Overridable via `graft.pinot.inSubqueryMaxBytes`. */
  val DefaultInSubqueryMaxBytes: Long = 4L << 20

  // Per-session IN_SUBQUERY memo (weak session keys: caches die with the
  // session). Guarded by its own lock; entries are
  // (inner sql -> (input files and data versions, IdSet)).
  private val idSetCaches =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, String)]]()

  private def idSetCacheFor(spark: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, (String, String)] =
    idSetCaches.synchronized {
      var m = idSetCaches.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
        idSetCaches.put(spark, m)
      }
      m
    }

  private def pctApprox: Seq[Expression] => Expression = args =>
    new ApproximatePercentile(args(0), Divide(Cast(args(1), DoubleType), Literal(100.0)))
      .toAggregateExpression()

  /** Register every alias on a session (names Spark already defines with the
    * same semantics — UPPER, LOWER, MD5, CRC32, REGEXP_LIKE, MODE, … — are
    * left to the native registry). */
  // ---- GAPFILL table function (Pinot 1.2 gap-filling surface) ----

  private def unitFactorMs(u: String): Long = u.toUpperCase match {
    case "MILLISECONDS" => 1L
    case "SECONDS" => 1000L
    case "MINUTES" => 60000L
    case "HOURS" => 3600000L
    case "DAYS" => 86400000L
    case other => throw new IllegalArgumentException(s"time unit: $other")
  }

  /** Parse-time marker for GAPFILL's `FILL(...)` / `TIMESERIESON(...)`
    * arguments: the analyzer resolves routine names inside table-function
    * arguments BEFORE the table function's own builder runs, so these
    * names must resolve to SOMETHING — an inert leaf that simply holds the
    * raw parsed arguments (leaf, so nothing tries to resolve the column
    * references inside; the gapfill builder consumes them as names).
    * Outside GAPFILL the marker is Unevaluable and errors at planning. */
  final case class GapfillArgMarker(kind: String, heldArgs: Seq[Expression])
    extends LeafExpression with Unevaluable {
    override def dataType: DataType = NullType
    override def nullable: Boolean = true
    override def prettyName: String = kind
  }

  /** Pinot time-format spec: `size:unit:EPOCH` → Left(millis per stored
    * unit), `size:unit:SIMPLE_DATE_FORMAT:pattern` → Right(pattern) —
    * split with limit 4 because SDF patterns themselves contain ':'. */
  private def parsePinotTimeFmt(f: String): Either[Long, String] = {
    val parts = f.split(":", 4)
    require(parts.length >= 3, s"time format: $f")
    parts(2).toUpperCase match {
      case "EPOCH" => scala.Left(parts(0).toLong * unitFactorMs(parts(1)))
      case "SIMPLE_DATE_FORMAT" =>
        require(parts.length == 4, s"SIMPLE_DATE_FORMAT needs a pattern: $f")
        scala.Right(parts(3))
      case other => throw new IllegalArgumentException(s"format kind: $other")
    }
  }

  /** Split `s` on commas at paren depth 0, respecting single-quoted SQL
    * strings (with `''` escapes) — the shared tokenizer for GAPFILL's
    * argument list and its FILL/TIMESERIESON spec bodies. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) {
        cur.append(c)
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur.append('\''); i += 1 }
          else inQuote = false
        }
      } else c match {
        case '\'' => inQuote = true; cur.append(c)
        case '(' => depth += 1; cur.append(c)
        case ')' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    if (cur.nonEmpty || out.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** Canonicalize the EXACT Pinot broker GAPFILL spelling into the
    * table-function form Spark can resolve: Spark never resolves function
    * calls nested inside table-valued-function arguments, so the bare
    * `FILL(col, 'MODE')` / `TIMESERIESON(col)` trailing arguments are
    * wrapped into string literals carrying the same text (which
    * [[gapfillPlan]] parses back). Quote- and paren-aware — the sub query
    * string literal (which itself contains commas and parens) passes
    * through untouched; SQL without GAPFILL is returned unchanged. Applied
    * by the HTTP/JDBC endpoints to every incoming statement, so a ported
    * dashboard query runs verbatim; call it directly when issuing broker
    * SQL through `session.sql`. */
  def rewriteGapfill(sql: String): String = {
    if (!sql.toLowerCase.contains("gapfill")) return sql
    val lower = sql.toLowerCase
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQuote) {
        sb.append(c)
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') { sb.append('\''); i += 1 }
          else inQuote = false
        }
        i += 1
      } else if (c == '\'') {
        inQuote = true; sb.append(c); i += 1
      } else if (lower.startsWith("gapfill", i) &&
          (i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1))) &&
          { var j = i + 7; while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
            j < sql.length && sql.charAt(j) == '(' }) {
        // found a GAPFILL call: copy the name, then transform its balanced
        // argument list
        var j = i + 7
        while (sql.charAt(j) != '(') j += 1
        val start = j + 1
        var depth = 1
        var k = start
        var q = false
        while (k < sql.length && depth > 0) {
          val ch = sql.charAt(k)
          if (q) { if (ch == '\'') {
            if (k + 1 < sql.length && sql.charAt(k + 1) == '\'') k += 1 else q = false } }
          else ch match {
            case '\'' => q = true
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          k += 1
        }
        require(depth == 0, "GAPFILL: unbalanced parentheses")
        val argText = sql.substring(start, k - 1)
        val specRe = """(?is)^\s*(FILL|TIMESERIESON)\s*\(.*""".r
        val rewritten = splitTopLevel(argText).map { a =>
          if (specRe.pattern.matcher(a).matches())
            "'" + a.trim.replace("'", "''") + "'"
          else a
        }.mkString(",")
        sb.append(sql.substring(i, start)).append(rewritten).append(')')
        i = k
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Canonicalize Pinot's string-unit datetime arithmetic into
    * parser-neutral names: Spark's grammar owns TIMESTAMPADD / TIMESTAMPDIFF
    * / DATEADD / DATEDIFF (AstBuilder.visitTimestampadd) and REJECTS quoted
    * units, so `timestampAdd('MONTH', 1, ts)` — the Pinot broker spelling —
    * cannot parse at all. This quote-aware scan renames exactly the calls
    * whose FIRST argument is a string literal to `pinot_timestamp_add` /
    * `pinot_timestamp_diff` (registry entries); identifier-unit Spark forms
    * and 2-arg datediff/dateadd are left untouched. Applied by the
    * endpoints to every statement alongside [[rewriteGapfill]] (use
    * [[rewriteBroker]] when issuing broker SQL through `session.sql`). */
  def rewriteTimestampArith(sql: String): String = {
    val lower = sql.toLowerCase
    if (!lower.contains("timestampadd") && !lower.contains("timestampdiff") &&
        !lower.contains("dateadd") && !lower.contains("datediff")) return sql
    val names = Seq(
      "timestampadd" -> "pinot_timestamp_add",
      "timestampdiff" -> "pinot_timestamp_diff",
      "dateadd" -> "pinot_timestamp_add",
      "datediff" -> "pinot_timestamp_diff")
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQuote) {
        sb.append(c)
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') { sb.append('\''); i += 1 }
          else inQuote = false
        }
        i += 1
      } else if (c == '\'') {
        inQuote = true; sb.append(c); i += 1
      } else {
        val hit = names.find { case (n, _) =>
          lower.startsWith(n, i) &&
            (i == 0 || !isWord(sql.charAt(i - 1))) &&
            (i + n.length >= sql.length || !isWord(sql.charAt(i + n.length)))
        }.filter { case (n, _) =>
          // rename ONLY when the first argument is a string literal whose
          // content is a datetime UNIT name: datediff('2024-01-10', d2) is
          // a previously valid Spark spelling (string dates implicit-cast)
          // and must keep its native semantics
          var j = i + n.length
          while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
          if (j >= sql.length || sql.charAt(j) != '(') false
          else {
            var k = j + 1
            while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
            if (k >= sql.length || sql.charAt(k) != '\'') false
            else {
              val close = sql.indexOf('\'', k + 1)
              close > k &&
                (try {
                  graft.expressions.TimestampArithKernels
                    .unitId(sql.substring(k + 1, close)); true
                } catch { case _: IllegalArgumentException => false })
            }
          }
        }
        hit match {
          case Some((n, repl)) => sb.append(repl); i += n.length
          case None => sb.append(c); i += 1
        }
      }
    }
    sb.toString
  }

  /** The full broker-SQL canonicalization pipeline the endpoints apply to
    * every incoming statement. */
  def rewriteBroker(sql: String): String = rewriteTimestampArith(rewriteGapfill(sql))

  /** Pinot GAPFILL — the broker's gap-filling table surface ("Gapfilling
    * functions", deployed Pinot 1.2 per
    * `/root/reference/resources/bastion/bastionUserData.sh:7`), registered
    * as a Spark TABLE-VALUED function so the broker spelling executes on a
    * compat session:
    *
    * {{{
    * SELECT ... FROM GAPFILL(
    *   'SELECT event_type, ts, value FROM events',  -- sub (string literal,
    *                                                --   the IN_SUBQUERY precedent)
    *   'ts', '1:MILLISECONDS:EPOCH',                -- time col + its format
    *   '<start>', '<end>',                          -- fill range [start, end)
    *   '1:HOURS',                                   -- bucket granularity
    *   FILL(value, 'FILL_PREVIOUS_VALUE'),          -- fill spec (one value col;
    *                                                --   3rd arg = literal default)
    *   TIMESERIESON(event_type))                    -- series identity
    * }}}
    *
    * The builder captures the session: the sub is ANALYZED (no execution)
    * at resolution time and the whole shape lowers onto
    * [[graft.ops.Gapfill]] — bounded spine, one scan of the sub, carry
    * window over spine rows only, so the broker syntax inherits the
    * operator's scale posture. Buckets are epoch-aligned and start/end
    * must align to the bucket width (loud requirement — Pinot console
    * usage quotes whole buckets). Output columns: series key, the time
    * column expressed back in ITS OWN format at bucket starts, and the
    * filled value under its original name. */
  private def gapfillPlan(spark: org.apache.spark.sql.SparkSession,
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.functions.{col => fcol, _}
    def strLit(e: Expression, what: String): String = e match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"GAPFILL $what must be a string literal, got $other")
    }
    def attrName(e: Expression, what: String): String = e match {
      case a: UnresolvedAttribute => a.nameParts.last
      case Literal(s, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"GAPFILL $what must be a column, got $other")
    }
    require(args.length >= 7,
      "GAPFILL('<sub sql>', '<timeCol>', '<timeFormat>', '<start>', '<end>', " +
        "'<bucket>', FILL(col, '<mode>'[, default]), TIMESERIESON(key))")
    val innerSql = strLit(args(0), "sub")
    val timeCol = attrName(args(1), "time column")
    val fmt = parsePinotTimeFmt(strLit(args(2), "time format"))
    val granParts = strLit(args(5), "bucket granularity").split(':')
    val bucketMs = granParts(0).toLong * unitFactorMs(granParts(1))

    def literalMs(s: String): Long = fmt match {
      case scala.Left(msPerUnit) => s.trim.toLong * msPerUnit
      case scala.Right(pattern) =>
        val sdf = new java.text.SimpleDateFormat(pattern)
        sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
        sdf.parse(s.trim).getTime
    }
    val startMs = literalMs(strLit(args(3), "start"))
    val endMs = literalMs(strLit(args(4), "end"))
    require(startMs % bucketMs == 0 && endMs % bucketMs == 0,
      s"GAPFILL start/end must align to the bucket width ($bucketMs ms): " +
        s"start=$startMs end=$endMs — buckets are epoch-aligned")
    require(endMs > startMs, s"GAPFILL empty range: start=$startMs end=$endMs")

    // FILL(col, mode[, default]) and TIMESERIESON(key) — Spark's analyzer
    // never resolves function calls nested inside table-function arguments
    // (TVF args must be fully resolved before the TVF builder fires), so
    // the canonical carrier is a STRING LITERAL holding the broker text
    // (rewriteGapfill quotes the broker spelling into this form); the
    // marker shapes are accepted too for hand-built plans
    val FillRe = """(?is)\s*FILL\s*\((.*)\)\s*""".r
    val TsoRe = """(?is)\s*TIMESERIESON\s*\((.*)\)\s*""".r
    def stripQuotes(s0: String): String = {
      val s = s0.trim
      if (s.length >= 2 && s.head == '\'' && s.last == '\'')
        s.substring(1, s.length - 1).replace("''", "'")
      else s
    }
    def exprToken(e: Expression): String = e match {
      case a: UnresolvedAttribute => a.nameParts.last
      case Literal(s, StringType) if s != null => s.toString
      case Literal(v, _) if v != null => v.toString
      case UnaryMinus(Literal(v, _), _) if v != null => "-" + v.toString
      case other => throw new IllegalArgumentException(
        s"GAPFILL spec argument must be a column or literal, got $other")
    }
    val trailing: Seq[(String, Seq[String])] = args.drop(6).map {
      case Literal(s, StringType) if s != null => s.toString match {
        case FillRe(inner) => ("fill", splitTopLevel(inner).map(stripQuotes))
        case TsoRe(inner) => ("timeserieson", splitTopLevel(inner).map(stripQuotes))
        case other => throw new IllegalArgumentException(
          s"GAPFILL trailing arguments must be FILL(...) / TIMESERIESON(...), got '$other'")
      }
      case f: UnresolvedFunction =>
        (f.nameParts.last.toLowerCase, f.arguments.map(exprToken))
      case m: GapfillArgMarker => (m.kind, m.heldArgs.map(exprToken))
      case other => throw new IllegalArgumentException(
        s"GAPFILL trailing arguments must be FILL(...) / TIMESERIESON(...), got $other")
    }
    var valueCol: Option[String] = None
    var fillMode: graft.ops.Gapfill.FillMode = graft.ops.Gapfill.FillPrevious
    var keyCol: Option[String] = None
    trailing.foreach {
      case ("fill", fargs) =>
        require(valueCol.isEmpty, "GAPFILL supports exactly one FILL column")
        require(fargs.length >= 2, "FILL(col, mode[, default])")
        valueCol = Some(fargs(0))
        fillMode = fargs(1).toUpperCase match {
          case "FILL_PREVIOUS_VALUE" => graft.ops.Gapfill.FillPrevious
          case "FILL_DEFAULT_VALUE" =>
            graft.ops.Gapfill.FillDefault(
              if (fargs.length >= 3) fargs(2).toDouble else 0.0)
          case other => throw new IllegalArgumentException(
            s"FILL mode $other (FILL_PREVIOUS_VALUE | FILL_DEFAULT_VALUE)")
        }
      case ("timeserieson", targs) =>
        require(targs.length == 1,
          "TIMESERIESON: exactly one series column (compose a concat in the sub for more)")
        keyCol = Some(targs(0))
      case (other, _) => throw new IllegalArgumentException(
        s"GAPFILL trailing arguments must be FILL(...) / TIMESERIESON(...), got $other")
    }
    val vc = valueCol.getOrElse(throw new IllegalArgumentException("GAPFILL needs FILL(col, mode)"))
    val kc = keyCol.getOrElse(throw new IllegalArgumentException("GAPFILL needs TIMESERIESON(key)"))

    val inner = spark.sql(rewriteGapfill(innerSql))
    val tsMicros: org.apache.spark.sql.Column = inner.schema(timeCol).dataType match {
      case TimestampType | TimestampNTZType => unix_micros(fcol(timeCol))
      case _ => fmt match {
        case scala.Left(msPerUnit) =>
          (fcol(timeCol).cast("long") * msPerUnit * 1000L)
        case scala.Right(pattern) =>
          unix_micros(to_timestamp(fcol(timeCol), pattern))
      }
    }
    val filled = graft.ops.Gapfill.gapfill(inner, kc, tsMicros, fcol(vc),
      bucketMicros = bucketMs * 1000L, fill = fillMode,
      boundsBuckets = Some((startMs / bucketMs, endMs / bucketMs - 1)))
    // express the bucket start back in the time column's OWN format
    val bucketStartMs = fcol("bucket") * bucketMs
    val timeOut = fmt match {
      case scala.Left(msPerUnit) => (bucketStartMs / msPerUnit).cast("long")
      case scala.Right(pattern) => date_format(timestamp_millis(bucketStartMs), pattern)
    }
    filled
      .select(fcol(kc), timeOut.as(timeCol), fcol("v_filled").as(vc))
      .queryExecution.analyzed
  }

  /** Pinot canonicalizes function names case- AND underscore-insensitively
    * (its FunctionRegistry strips underscores before lookup), so a console
    * user can write `DISTINCT_COUNT_THETA_SKETCH` for
    * `distinctCountThetaSketch`. Spark's registry is exact-name, so the
    * underscore spellings of the aggregate/sketch families — the style the
    * Pinot docs use — register explicitly to the same builders as their
    * flattened forms. Every entry must flatten to an existing registry key
    * (checked at register time — a typo here fails loudly, never a silent
    * missing alias). Names whose underscore form would SHADOW a Spark
    * builtin with different semantics (date_trunc, time_convert) are
    * deliberately absent. */
  private val underscoreAliases: Seq[String] = Seq(
    "distinct_count", "distinct_count_bitmap", "distinct_count_bitmap_mv",
    "distinct_count_hll", "distinct_count_hll_mv", "distinct_count_hll_plus",
    "distinct_count_raw_hll", "distinct_count_raw_hll_plus",
    "distinct_count_smart_hll", "distinct_count_theta_sketch",
    "distinct_count_raw_theta_sketch", "distinct_count_cpc_sketch",
    "distinct_count_raw_cpc_sketch", "distinct_count_tuple_sketch",
    "distinct_count_raw_integer_sum_tuple_sketch", "distinct_count_ull",
    "distinct_count_mv", "distinct_sum", "distinct_sum_mv", "distinct_avg",
    "distinct_avg_mv",
    "percentile_est", "percentile_est_mv", "percentile_kll",
    "percentile_kll_mv", "percentile_mv", "percentile_raw_est",
    "percentile_raw_kll", "percentile_raw_tdigest",
    "percentile_smart_tdigest", "percentile_tdigest", "percentile_tdigest_mv",
    "theta_sketch_estimate", "theta_sketch_union", "theta_sketch_intersect",
    "theta_sketch_diff", "cpc_sketch_estimate", "cpc_sketch_union",
    "frequent_strings_sketch", "frequent_longs_sketch",
    "segment_partitioned_distinct_count", "first_with_time", "last_with_time",
    "min_max_range", "min_max_range_mv", "sum_precision",
    "funnel_max_step", "funnel_match_step", "funnel_complete_count",
    "funnel_step_durations",
    "avg_value_integer_sum_tuple_sketch", "sum_values_integer_sum_tuple_sketch")

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val functions = spark.sessionState.functionRegistry
    // 23 Pinot names shadow a Spark built-in of the same name on purpose
    // (percentile, substr, split, year, ...). Dropping the built-in first
    // makes the replacement explicit, and Spark logs no "replaced a
    // previously registered function" WARN for it; resolution is the same.
    def install(name: String, builder: Seq[Expression] => Expression): Unit = {
      functions.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      functions.createOrReplaceTempFunction(name, builder, "built-in")
    }
    registry.foreach { case (name, builder) => install(name, builder) }
    val byName = registry.toMap
    underscoreAliases.foreach { u =>
      install(u, byName.getOrElse(u.replace("_", ""),
        throw new IllegalStateException(
          s"underscore alias '$u' has no flattened registry key")))
    }
    // GAPFILL in the FROM position — Spark's table-function registry is
    // the natural hook for a row-expanding broker form (a scalar registry
    // entry cannot change cardinality). FILL/TIMESERIESON resolve to inert
    // markers the gapfill builder consumes.
    spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
      "gapfill", (args: Seq[Expression]) => gapfillPlan(spark, args), "built-in")
    Seq("fill", "timeserieson").foreach { kind =>
      install(kind, (args: Seq[Expression]) => GapfillArgMarker(kind, args))
    }
    // IN_SUBQUERY(col, 'inner sql') — Pinot's broker-side two-phase form:
    // the inner query (typically `SELECT id_set(x) FROM …`) is executed
    // FIRST on this session and its single serialized-IdSet result becomes
    // the IN_ID_SET literal of the outer filter. The builder captures the
    // session, so execution happens at analysis time — exactly when Pinot's
    // broker runs the inner query. Nested IN_SUBQUERY recurses naturally
    // (the inner analysis triggers its own builder).
    //
    // Guards (round 7):
    //  - BYTE BUDGET: the serialized IdSet becomes a plan literal that is
    //    shipped with every task; an unbounded inner query would bake a
    //    multi-MB (or worse) literal into the plan. Over
    //    `graft.pinot.inSubqueryMaxBytes` (default 4 MiB — an IdSet that
    //    big means the filter is not selective) the call REFUSES loudly
    //    with semi-join guidance, mirroring the bloom-manifest budget in
    //    plans.SegmentPruningRule.
    //  - MEMOIZATION: the builder runs at ANALYSIS time, so EXPLAIN, view
    //    re-resolution, or any re-analysis would re-run the inner query
    //    eagerly. Results are memoized per (session, sql) together with the
    //    inner query's input files and their data versions, which planning
    //    the inner query yields without running a job: a rewritten input
    //    re-runs the inner query, so the memo never serves an IdSet of old
    //    data.
    install(
      "in_subquery",
      (args: Seq[Expression]) => {
        val sql = args(1) match {
          case Literal(s, StringType) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"IN_SUBQUERY inner query must be a string literal, got $other")
        }
        val inner = spark.sql(sql)
        val version = inner.inputFiles.sorted.map { f =>
          s"$f@${graft.sources.Fingerprint.of(graft.sources.Fingerprint.canon(f))}"
        }.mkString("|")
        val memo = idSetCacheFor(spark)
        val cached = Option(memo.get(sql)).collect { case (`version`, v) => v }
        val idSet = cached.getOrElse {
          val rows = inner.collect()
          require(rows.length == 1 && rows.head.length == 1 && !rows.head.isNullAt(0),
            s"IN_SUBQUERY inner query must return exactly one IdSet value: $sql")
          val v = rows.head.getString(0)
          val bytes = v.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
          val budget = spark.conf.get(
            "graft.pinot.inSubqueryMaxBytes", DefaultInSubqueryMaxBytes.toString).toLong
          require(bytes <= budget,
            s"IN_SUBQUERY inner query produced a $bytes-byte IdSet, over the " +
              s"graft.pinot.inSubqueryMaxBytes budget ($budget). A literal that " +
              "size would be compiled into the plan and shipped with every task. " +
              "Rewrite as a semi-join — `WHERE col IN (SELECT …)` / LEFT SEMI " +
              "JOIN — which shuffles or broadcasts through the engine instead, " +
              "or raise the budget if the set is genuinely this large.")
          memo.put(sql, (version, v))
          v
        }
        graft.expressions.InIdSet(args(0), Literal(idSet))
      })
    // Pinot's implicit LIMIT 10 (O2) and default null substitution (F6) —
    // both conf-guarded, off unless the session opts in
    // (graft.pinot.implicitLimit / graft.pinot.nullDefaults)
    Seq(graft.plans.PinotImplicitLimitRule, graft.plans.PinotNullDefaultsRule,
        graft.plans.VectorSimilarityRule).foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ r
    }
  }

  /** The Pinot-mode child of `spark` with every fixture under `dir` as a
    * temp view: the one session all declared Pinot-vocabulary SQL queries
    * run on. Built once per (parent, dir); the views follow the fixtures'
    * data version ([[graft.sources.Tables.registerViews]]). */
  def viewsSession(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.SparkSession = {
    val s = Graft.child(spark, s"pinot-views ${graft.sources.Fingerprint.canon(dir)}")(register)
    graft.sources.Tables.registerViews(s, dir)
    s
  }
}

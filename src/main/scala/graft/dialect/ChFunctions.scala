package graft.dialect

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse function-name surface, registered as native Catalyst
  * expression builders (codegen'd — no UDFs).
  *
  * Mirrors the names the reference's own artifacts exercise —
  * version()/now()/toString (/root/reference/test/test_suite.py:141-146,
  * 334), toYYYYMM/intHash32 (.github/workflows/test.yml:49), range
  * (public/index.html:729) — plus the tier-C families from SURVEY.md
  * §2.7 scoped to common ClickHouse idioms.
  *
  * Integer hashes (intHash32/intHash64) implement the published
  * ClickHouse algorithms (graft.functions.IntHash); string hashes
  * (cityHash64, farmFingerprint64) remain distribution-parity
  * stand-ins (SURVEY §2.7 F5) — consistent within this engine, which
  * is what PARTITION BY / ORDER BY clustering needs.
  */
object ChFunctions {

  /** The ClickHouse version the reference reports (SURVEY §0:
    * /root/reference/main.py:75-78). */
  val Version = "25.5.2"

  private def cast(t: DataType)(args: Seq[Expression]): Expression =
    Cast(args.head, t)

  private def nullIfNot(cond: Expression, value: Expression): Expression =
    If(cond, value, Literal(null))

  private def jsonPath(key: Expression): Expression =
    Concat(Seq(Literal("$."), key))

  /** ClickHouse truthiness: nonzero numeric (or true boolean) is true. */
  private def chTruthy(e: Expression): Expression =
    Not(EqualTo(Cast(e, DoubleType), Literal(0d)))

  /** Funnel-family condition arguments under ClickHouse truthiness. */
  private def asBool(e: Expression): Expression = chTruthy(e)

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(u: UTF8String, StringType) => u.toString
    case other =>
      throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  /** Per-row sum of an array's elements as double (ArrayAggregate). */
  private def elementSum(arr: Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
    val out = UnresolvedNamedLambdaVariable(Seq("__graft_out"))
    ArrayAggregate(arr, Literal(0d),
      LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)),
      LambdaFunction(out, Seq(out)))
  }

  // ---- vector distance/norm family (ClickHouse's L*Distance/Norm,
  // dotProduct, cosineDistance, normalize*): pure higher-order array
  // compositions — ZipWith + ArrayAggregate stay inside whole-stage
  // codegen, so these run at builtin speed over embedding columns ----

  /** Fold f(x) over the array's elements as double: Σ f(x_i) (or max
    * via `useMax`). */
  private def vecFold(arr: Expression, f: Expression => Expression,
                      useMax: Boolean = false): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("__graft_vx"))
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_vacc"))
    val out = UnresolvedNamedLambdaVariable(Seq("__graft_vout"))
    val step = if (useMax) Greatest(Seq(acc, f(Cast(x, DoubleType))))
               else Add(acc, f(Cast(x, DoubleType)))
    ArrayAggregate(arr, Literal(0d),
      LambdaFunction(step, Seq(acc, x)), LambdaFunction(out, Seq(out)))
  }

  /** Element-wise combine of two arrays as double. */
  private def vecZip(a: Expression, b: Expression,
                     f: (Expression, Expression) => Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("__graft_vza"))
    val y = UnresolvedNamedLambdaVariable(Seq("__graft_vzb"))
    ZipWith(a, b,
      LambdaFunction(f(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y)))
  }

  // r16: dot-shaped folds run the codegen'd VecDot instead of the
  // interpreted ArrayAggregate/ZipWith lambdas. Bit-identical: VecDot's
  // loop is the same left-to-right (0 + x0*y0) + x1*y1 + ... fold over
  // the double-cast elements, with the same null/length-mismatch
  // semantics as the zip_with spelling (see graft.functions.VecDot).
  private def castD(a: Expression): Expression =
    Cast(a, ArrayType(DoubleType))
  private def dotProduct(a: Expression, b: Expression): Expression =
    graft.functions.VecDot(castD(a), castD(b))
  private def l2Norm(a: Expression): Expression =
    Sqrt(graft.functions.VecDot(castD(a), castD(a)))

  /** Fold a user lambda over an array with ArrayAggregate. The analyzer
    * only accepts user-written lambdas when the registered builder's
    * top-level result IS a HigherOrderFunction (Size(ArrayFilter(...))
    * is rejected with INVALID_LAMBDA_FUNCTION_CALL), so count/sum-style
    * combinators are expressed as a single aggregate fold whose merge
    * lambda re-uses the user lambda's own variable — resolution then
    * binds the user's body naturally. */
  private def lambdaFold(userLambda: Expression, arr: Expression,
                         zero: Expression,
                         step: (Expression, Expression) => Expression): Expression = {
    val lf = userLambda.asInstanceOf[LambdaFunction]
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
    val out = UnresolvedNamedLambdaVariable(Seq("__graft_out"))
    ArrayAggregate(arr, zero,
      LambdaFunction(step(acc, lf.function), Seq(acc, lf.arguments.head)),
      LambdaFunction(out, Seq(out)))
  }

  /** ClickHouse strftime-style tokens → Java time pattern (literal
    * formats only; the common subset). */
  private def chFormatToJava(fmt: Expression): Expression = fmt match {
    case Literal(s, StringType) =>
      val j = s.toString
        .replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
        .replace("%H", "HH").replace("%M", "mm").replace("%i", "mm")
        .replace("%S", "ss").replace("%F", "yyyy-MM-dd").replace("%T", "HH:mm:ss")
      Literal(j)
    case other => other
  }

  private val builders: Map[String, Seq[Expression] => Expression] =
    Map[String, Seq[Expression] => Expression](
    // identity / time
    "version" -> (_ => Literal(Version)),
    "now" -> (_ => Cast(Cast(CurrentTimestamp(), LongType), TimestampType)),
    "today" -> (_ => CurrentDate()),

    // conversions (unsigned types widened per SURVEY §1.2)
    "toString" -> cast(StringType),
    "toInt8" -> cast(ByteType), "toInt16" -> cast(ShortType),
    "toInt32" -> cast(IntegerType), "toInt64" -> cast(LongType),
    "toUInt8" -> cast(ShortType), "toUInt16" -> cast(IntegerType),
    "toUInt32" -> cast(LongType), "toUInt64" -> cast(DecimalType(20, 0)),
    "toFloat32" -> cast(FloatType), "toFloat64" -> cast(DoubleType),
    "toDate" -> cast(DateType), "toDateTime" -> cast(TimestampType),

    // date parts
    "toYear" -> (a => Year(a.head)), "toMonth" -> (a => Month(a.head)),
    "toDayOfMonth" -> (a => DayOfMonth(a.head)),
    "toHour" -> (a => Hour(a.head)), "toMinute" -> (a => Minute(a.head)),
    "toSecond" -> (a => Second(a.head)),
    "toYYYYMM" -> (a => Cast(DateFormatClass(Cast(a.head, TimestampType),
      Literal("yyyyMM")), IntegerType)),
    "toYYYYMMDD" -> (a => Cast(DateFormatClass(Cast(a.head, TimestampType),
      Literal("yyyyMMdd")), IntegerType)),
    "toStartOfYear" -> (a => TruncDate(Cast(a.head, DateType), Literal("year"))),
    "toStartOfMonth" -> (a => TruncDate(Cast(a.head, DateType), Literal("month"))),
    "toStartOfDay" -> (a => TruncTimestamp(Literal("day"), Cast(a.head, TimestampType))),
    "toStartOfHour" -> (a => TruncTimestamp(Literal("hour"), Cast(a.head, TimestampType))),
    "toStartOfMinute" -> (a => TruncTimestamp(Literal("minute"), Cast(a.head, TimestampType))),
    // ClickHouse toDayOfWeek: Monday=1..Sunday=7 (Spark: Sunday=1)
    "toDayOfWeek" -> (a => Add(Remainder(Add(DayOfWeek(a.head), Literal(5)),
      Literal(7)), Literal(1))),
    "addDays" -> (a => DateAdd(a(0), a(1))),
    "subtractDays" -> (a => DateSub(a(0), a(1))),
    "addMonths" -> (a => AddMonths(a(0), a(1))),
    // NOTE: dateDiff('unit',...) is rewritten by the Transpiler to
    // timestampdiff(UNIT,...) — Spark's parser special-cases the name
    // before the function registry is consulted.
    "formatDateTime" -> (a => DateFormatClass(Cast(a(0), TimestampType),
      chFormatToJava(a(1)))),

    // arithmetic names
    "plus" -> (a => Add(a(0), a(1))), "minus" -> (a => Subtract(a(0), a(1))),
    "multiply" -> (a => Multiply(a(0), a(1))),
    "divide" -> (a => Divide(Cast(a(0), DoubleType), Cast(a(1), DoubleType))),
    "intDiv" -> (a => IntegralDivide(a(0), a(1), evalMode = EvalMode.LEGACY)),
    "modulo" -> (a => Remainder(a(0), a(1))),
    "negate" -> (a => UnaryMinus(a.head)),
    "exp2" -> (a => Pow(Literal(2d), Cast(a.head, DoubleType))),
    "intExp2" -> (a => ShiftLeft(Literal(1L), Cast(a.head, IntegerType))),

    // bit manipulation
    "bitAnd" -> (a => BitwiseAnd(a(0), a(1))),
    "bitOr" -> (a => BitwiseOr(a(0), a(1))),
    "bitXor" -> (a => BitwiseXor(a(0), a(1))),
    "bitNot" -> (a => BitwiseNot(a.head)),
    "bitShiftLeft" -> (a => ShiftLeft(a(0), Cast(a(1), IntegerType))),
    "bitShiftRight" -> (a => ShiftRight(a(0), Cast(a(1), IntegerType))),
    "bitTest" -> (a => Cast(BitwiseAnd(
      ShiftRight(Cast(a(0), LongType), Cast(a(1), IntegerType)), Literal(1L)),
      ShortType)),

    // unix time conversions
    "toUnixTimestamp" -> (a => Cast(Cast(a.head, TimestampType), LongType)),
    "fromUnixTimestamp" -> (a => Cast(Cast(a.head, LongType), TimestampType)),

    // custom codegen'd Expression: 60-bit md5 prefix (dedup hot path)
    "md5Prefix60" -> (a => graft.functions.Md5Prefix60(Cast(a.head, BinaryType))),
    // codegen'd merge-intersect count over sorted distinct long arrays
    // (similarity-verify hot path — see SortedLongIntersect)
    "sortedLongIntersect" -> (a => graft.functions.SortedLongIntersect(a(0), a(1))),
    // codegen'd double- or float-array dot product with
    // zip_with/fold-identical semantics (similarity-search hot path and
    // the near-dup scan's float32 pruning score — see VecDot)
    "vecDot" -> (a => graft.functions.VecDot(a(0), a(1))),
    // unscaled DECIMAL(20,0) mod 2^64 as a raw long (injective on the
    // UInt64 domain — see DecimalMod64 / plans.UInt64DistinctNarrow)
    "decimalMod64" -> (a => graft.functions.DecimalMod64(a.head)),

    // integer hashes: the published ClickHouse algorithms (Hash.h),
    // codegen'd — see graft.functions.IntHash provenance note
    "intHash32" -> (a => graft.functions.IntHash32Expr(Cast(a.head, LongType))),
    "intHash64" -> (a => graft.functions.IntHash64Expr(Cast(a.head, LongType))),
    // SipHash-2-4, zero key (published algorithm — see SipHash.scala)
    "sipHash64" -> (a => graft.functions.SipHash64Expr(Cast(a.head, StringType))),
    // string hashes: distribution-parity stand-ins (NOT byte-parity)
    "cityHash64" -> (a => XxHash64(a, 42L)),
    "farmFingerprint64" -> (a => XxHash64(a, 64L)),

    // multi-search / substring-count family (positionCaseInsensitive
    // and replaceAll live in the strings section below)
    "countSubstrings" -> (a => Cast(Divide(
      Subtract(Length(a(0)), Length(StringReplace(a(0), a(1), Literal("")))),
      Length(a(1))), LongType)),
    "multiSearchAny" -> (a => {
      val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
      ArrayExists(a(1), LambdaFunction(Contains(a(0), x), Seq(x)))
    }),
    "replaceOne" -> (a => {
      // first occurrence only (regexp_replace replaces all)
      val loc = new StringLocate(a(1), a(0))
      If(EqualTo(loc, Literal(0)), a(0), Concat(Seq(
        Substring(a(0), Literal(1), Subtract(loc, Literal(1))),
        a(2),
        Substring(a(0), Add(loc, Length(a(1))), Literal(Int.MaxValue)))))
    }),

    // strings
    "empty" -> (a => EqualTo(Length(a.head), Literal(0))),
    "notEmpty" -> (a => GreaterThan(Length(a.head), Literal(0))),
    "lengthUTF8" -> (a => Length(a.head)),
    "lcase" -> (a => Lower(a.head)), "ucase" -> (a => Upper(a.head)),
    "splitByChar" -> (a => StringSplit(a(1),
      RegExpReplace(a(0), Literal("([^a-zA-Z0-9])"), Literal("\\\\$1")), Literal(-1))),
    "splitByString" -> (a => StringSplit(a(1),
      RegExpReplace(a(0), Literal("([^a-zA-Z0-9])"), Literal("\\\\$1")), Literal(-1))),
    "alphaTokens" -> (a => ArrayFilter(
      StringSplit(a.head, Literal("[^a-zA-Z]+"), Literal(-1)), {
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
        LambdaFunction(GreaterThan(Length(x), Literal(0)), Seq(x))
      })),
    // hasToken(haystack, token): whole-token membership — split on the
    // same separator class the tokenbf_v1 skip index uses, so the
    // prune rule can answer this predicate from the token bloom
    "hasToken" -> (a => ArrayContains(
      StringSplit(a(0), Literal(SkipIndexes.TokenSep), Literal(-1)), a(1))),
    "position" -> (a => StringLocate(a(1), a(0), Literal(1))),
    "positionCaseInsensitive" -> (a => StringLocate(Lower(a(1)), Lower(a(0)), Literal(1))),
    "match" -> (a => RLike(a(0), a(1))),
    "extract" -> (a => RegExpExtract(a(0), a(1), Literal(1))),
    "replaceAll" -> (a => StringReplace(a(0), a(1), a(2))),
    "replaceRegexpAll" -> (a => RegExpReplace(a(0), a(1), a(2))),
    "startsWith" -> (a => StartsWith(a(0), a(1))),
    "endsWith" -> (a => EndsWith(a(0), a(1))),
    "lowerUTF8" -> (a => Lower(a.head)), "upperUTF8" -> (a => Upper(a.head)),
    "substringUTF8" -> (a => Substring(a(0), a(1), a(2))),
    // Spark strings are UTF-8 natively: the UTF8-suffixed position
    // family is the plain one
    "positionUTF8" -> (a => StringLocate(a(1), a(0), Literal(1))),
    "positionCaseInsensitiveUTF8" ->
      (a => StringLocate(Lower(a(1)), Lower(a(0)), Literal(1))),
    "reverseUTF8" -> (a => Reverse(a.head)),
    "repeat" -> (a => StringRepeat(a(0), a(1))),
    "leftPad" -> (a => new StringLPad(a(0), a(1), a(2))),
    "rightPad" -> (a => StringRPad(a(0), a(1), a(2))),
    "trimBoth" -> (a => new StringTrim(a.head)),
    "trimLeft" -> (a => new StringTrimLeft(a.head)),
    "trimRight" -> (a => new StringTrimRight(a.head)),
    "reverse" -> (a => Reverse(a.head)),
    "arrayStringConcat" -> (a =>
      if (a.length > 1) ArrayJoin(a(0), a(1), None)
      else ArrayJoin(a(0), Literal(""), None)),

    // arrays
    "range" -> (a => a.length match {
      case 1 => Sequence(Literal(0L), Subtract(Cast(a.head, LongType), Literal(1L)), None)
      case _ => Sequence(Cast(a(0), LongType), Subtract(Cast(a(1), LongType), Literal(1L)), None)
    }),
    "arrayJoin" -> (a => Explode(a.head)),
    "has" -> (a => ArrayContains(a(0), a(1))),
    "indexOf" -> (a => ArrayPosition(a(0), a(1))),
    "arrayDistinct" -> (a => ArrayDistinct(a.head)),
    "arraySort" -> (a => new SortArray(a.head)),
    "arrayConcat" -> (a => Concat(a)),
    "arrayElement" -> (a => ElementAt(a(0), a(1))),
    "arrayUniq" -> (a => Size(ArrayDistinct(a.head))),
    "arrayReverse" -> (a => Reverse(a.head)),
    "arraySlice" -> (a =>
      if (a.length >= 3) Slice(a(0), a(1), a(2))
      else Slice(a(0), a(1), Subtract(Add(Size(a(0)), Literal(1)), a(1)))),
    "arrayZip" -> (a => ArraysZip(a)),
    "arrayEnumerate" -> (a =>
      Sequence(Literal(1), Size(a.head), None)),
    "arrayIntersect" -> (a => a.reduceLeft(ArrayIntersect(_, _))),
    "arrayFlatten" -> (a => Flatten(a.head)),
    "arrayCompact" -> (a => {
      // collapse CONSECUTIVE duplicates (distinct from arrayDistinct);
      // zero = a zero-length slice of the input, so element types line
      // up without knowing them at build time
      val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
      val out = UnresolvedNamedLambdaVariable(Seq("__graft_out"))
      ArrayAggregate(a.head, Slice(a.head, Literal(1), Literal(0)),
        LambdaFunction(
          If(And(GreaterThan(Size(acc), Literal(0)),
              EqualTo(ElementAt(acc, Literal(-1)), x)),
            acc, Concat(Seq(acc, CreateArray(Seq(x))))),
          Seq(acc, x)),
        LambdaFunction(out, Seq(out)))
    }),
    "hasAny" -> (a => ArraysOverlap(a(0), a(1))),
    "hasAll" -> (a => EqualTo(Size(ArrayExcept(a(1), a(0))), Literal(0))),
    // ClickHouse higher-order style: lambda first, array second
    "arrayMap" -> (a => ArrayTransform(a(1), a(0))),
    "arrayFilter" -> (a => ArrayFilter(a(1), a(0))),
    "arrayExists" -> (a => ArrayExists(a(1), a(0))),
    "arrayAll" -> (a => ArrayForAll(a(1), a(0))),
    "arrayCount" -> (a =>
      if (a.length >= 2)
        lambdaFold(a(0), a(1), Literal(0L),
          (acc, body) => Add(acc, If(chTruthy(body), Literal(1L), Literal(0L))))
      else { // arrayCount(arr): count truthy elements
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
        Size(ArrayFilter(a.head, LambdaFunction(chTruthy(x), Seq(x))))
      }),
    "arraySum" -> (a =>
      if (a.length >= 2)
        lambdaFold(a(0), a(1), Literal(0d),
          (acc, body) => Add(acc, Cast(body, DoubleType)))
      else elementSum(a.head)),

    // maps / tuples
    "mapKeys" -> (a => MapKeys(a.head)),
    "mapValues" -> (a => MapValues(a.head)),
    "mapContains" -> (a => ArrayContains(MapKeys(a(0)), a(1))),
    "tuple" -> (a => CreateStruct(a)),
    "tupleElement" -> (a => a(1) match {
      case Literal(i: Int, IntegerType) => GetStructField(a(0), i - 1)
      case other =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(a(0), other)
    }),
    "toJSONString" -> (a => StructsToJson(Map.empty[String, String], a.head)),

    // URL family (ClickHouse URL functions -> Spark's codegen'd
    // ParseUrl; SURVEY §2.7 tier C)
    "protocol" -> (a => Lower(new ParseUrl(Seq(a.head, Literal("PROTOCOL"))))),
    "domain" -> (a => new ParseUrl(Seq(a.head, Literal("HOST")))),
    "domainWithoutWWW" -> (a => RegExpReplace(
      new ParseUrl(Seq(a.head, Literal("HOST"))), Literal("^www\\."), Literal(""))),
    "topLevelDomain" -> (a => RegExpExtract(
      new ParseUrl(Seq(a.head, Literal("HOST"))), Literal("\\.([^.]+)$"), Literal(1))),
    "path" -> (a => new ParseUrl(Seq(a.head, Literal("PATH")))),
    "queryString" -> (a => new ParseUrl(Seq(a.head, Literal("QUERY")))),
    "fragment" -> (a => new ParseUrl(Seq(a.head, Literal("REF")))),
    "extractURLParameter" -> (a =>
      new ParseUrl(Seq(a.head, Literal("QUERY"), a(1)))),

    // conditional / null — ClickHouse truthiness: any numeric (or
    // boolean, via the double cast) condition, nonzero = true
    "if" -> (a => If(Not(EqualTo(Cast(a(0), DoubleType), Literal(0d))), a(1), a(2))),
    "multiIf" -> (a => {
      val branches = a.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq
      CaseWhen(branches, Some(a.last))
    }),
    "ifNull" -> (a => Coalesce(a)),

    // JSON (ClickHouse key-arg style -> $.path)
    "JSONExtractString" -> (a => GetJsonObject(a(0), jsonPath(a(1)))),
    "JSONExtractInt" -> (a => Cast(GetJsonObject(a(0), jsonPath(a(1))), LongType)),
    "JSONExtractFloat" -> (a => Cast(GetJsonObject(a(0), jsonPath(a(1))), DoubleType)),
    "JSONExtractBool" -> (a => Cast(GetJsonObject(a(0), jsonPath(a(1))), BooleanType)),
    "JSONHas" -> (a => IsNotNull(GetJsonObject(a(0), jsonPath(a(1))))),
    "visitParamExtractString" -> (a => GetJsonObject(a(0), jsonPath(a(1)))),
    "simpleJSONExtractString" -> (a => GetJsonObject(a(0), jsonPath(a(1)))),

    // misc tail: finite guards, functional interval constructors,
    // array shuffle (ClickHouse names; Spark spells these differently
    // or not at all)
    "ifNotFinite" -> { a =>
      val c = Cast(a(0), DoubleType)
      If(Or(IsNaN(c), Or(EqualTo(c, Literal(Double.PositiveInfinity)),
        EqualTo(c, Literal(Double.NegativeInfinity)))),
        Cast(a(1), DoubleType), c)
    },
    "isFinite" -> { a =>
      val c = Cast(a.head, DoubleType)
      Not(Or(IsNaN(c), Or(EqualTo(c, Literal(Double.PositiveInfinity)),
        EqualTo(c, Literal(Double.NegativeInfinity)))))
    },
    "isInfinite" -> { a =>
      val c = Cast(a.head, DoubleType)
      Or(EqualTo(c, Literal(Double.PositiveInfinity)),
        EqualTo(c, Literal(Double.NegativeInfinity)))
    },
    "isNaN" -> (a => IsNaN(Cast(a.head, DoubleType))),
    "arrayShuffle" -> (a => Shuffle(a.head)),
    "toIntervalSecond" -> (a => MakeDTInterval(Literal(0), Literal(0),
      Literal(0), Cast(a.head, DecimalType(18, 6)))),
    "toIntervalMinute" -> (a => MakeDTInterval(Literal(0), Literal(0),
      Cast(a.head, IntegerType), Cast(Literal(0), DecimalType(18, 6)))),
    "toIntervalHour" -> (a => MakeDTInterval(Literal(0),
      Cast(a.head, IntegerType), Literal(0), Cast(Literal(0), DecimalType(18, 6)))),
    "toIntervalDay" -> (a => MakeDTInterval(Cast(a.head, IntegerType),
      Literal(0), Literal(0), Cast(Literal(0), DecimalType(18, 6)))),
    "toIntervalWeek" -> (a => MakeDTInterval(
      Cast(Multiply(a.head, Literal(7)), IntegerType),
      Literal(0), Literal(0), Cast(Literal(0), DecimalType(18, 6)))),
    "toIntervalMonth" -> (a =>
      MakeYMInterval(Literal(0), Cast(a.head, IntegerType))),
    "toIntervalQuarter" -> (a =>
      MakeYMInterval(Literal(0), Cast(Multiply(a.head, Literal(3)), IntegerType))),
    "toIntervalYear" -> (a =>
      MakeYMInterval(Cast(a.head, IntegerType), Literal(0))),

    // aggregates
    "any" -> (a => First(a.head, ignoreNulls = true).toAggregateExpression()),
    // heavy-hitter: ClickHouse's approximate majority element; the
    // deterministic mode is a strict implementation of the contract
    "anyHeavy" -> (a => Mode(a.head).toAggregateExpression()),
    "entropy" -> (a =>
      graft.functions.EntropyAgg(a.head).toAggregateExpression()),
    "anyLast" -> (a => Last(a.head, ignoreNulls = true).toAggregateExpression()),
    "argMin" -> (a => MinBy(a(0), a(1)).toAggregateExpression()),
    "argMax" -> (a => MaxBy(a(0), a(1)).toAggregateExpression()),
    "uniq" -> (a => HyperLogLogPlusPlus(a.head).toAggregateExpression()),
    "uniqHLL12" -> (a => HyperLogLogPlusPlus(a.head).toAggregateExpression()),
    "uniqCombined" -> (a => HyperLogLogPlusPlus(a.head).toAggregateExpression()),
    "uniqCombined64" -> (a => HyperLogLogPlusPlus(a.head).toAggregateExpression()),
    // theta-sketch flavor: same approx-distinct contract, HLL++ backend
    "uniqTheta" -> (a => HyperLogLogPlusPlus(a.head).toAggregateExpression()),
    "uniqExact" -> (a => Count(a).toAggregateExpression(isDistinct = true)),
    "countDistinct" -> (a => Count(a).toAggregateExpression(isDistinct = true)),
    "sumDistinct" -> (a => Sum(a.head).toAggregateExpression(isDistinct = true)),
    "avgDistinct" -> (a => Average(a.head).toAggregateExpression(isDistinct = true)),
    "median" -> (a => new Percentile(a.head, Literal(0.5d)).toAggregateExpression()),
    "quantileTDigest" -> (a => // approx sketch variant -> approx percentile
      new ApproximatePercentile(a(1), a(0)).toAggregateExpression()),
    // statistical moments (ClickHouse camelCase -> Spark aggregates)
    "stddevPop" -> (a => StddevPop(Cast(a.head, DoubleType)).toAggregateExpression()),
    "stddevSamp" -> (a => StddevSamp(Cast(a.head, DoubleType)).toAggregateExpression()),
    "varPop" -> (a => VariancePop(Cast(a.head, DoubleType)).toAggregateExpression()),
    "varSamp" -> (a => VarianceSamp(Cast(a.head, DoubleType)).toAggregateExpression()),
    "covarPop" -> (a => CovPopulation(Cast(a(0), DoubleType),
      Cast(a(1), DoubleType)).toAggregateExpression()),
    "covarSamp" -> (a => CovSample(Cast(a(0), DoubleType),
      Cast(a(1), DoubleType)).toAggregateExpression()),
    // topK(k)(x): the transpiler rewrites the parameterized form to
    // topKAgg(x, k); space-saving sketch, see graft.functions.TopKSketch
    "topKAgg" -> (a => {
      val k = a(1) match {
        case Literal(i: Int, IntegerType) => i
        case Literal(l: Long, LongType) => l.toInt
        case other => throw new IllegalArgumentException(s"topK k must be a literal, got $other")
      }
      graft.functions.TopKSketch(a.head, k).toAggregateExpression()
    }),
    // topKWeighted(k)(x, w): same space-saving counters, each row
    // contributing its (integral) weight instead of 1
    "topKWeightedAgg" -> (a => {
      val k = a(2) match {
        case Literal(i: Int, IntegerType) => i
        case Literal(l: Long, LongType) => l.toInt
        case other => throw new IllegalArgumentException(
          s"topKWeighted k must be a literal, got $other")
      }
      graft.functions.TopKSketch(a.head, k, Some(a(1))).toAggregateExpression()
    }),
    "groupArray" -> (a => CollectList(a.head).toAggregateExpression()),
    "groupUniqArray" -> (a => CollectSet(a.head).toAggregateExpression()),
    // -State/-Merge combinators (SURVEY §2.4 G8): partial-aggregate
    // states exposed as values, re-aggregable at a coarser grouping —
    // ClickHouse's two-phase pattern, mapped onto Spark's own
    // partial/final machinery. Exact aggregates use their natural
    // state (count state = count, merged by summing); uniqState is a
    // DataSketches HLL sketch (binary, mergeable across groups, the
    // 100 TB-friendly way to count distincts in two phases).
    "countState" -> (a =>
      Count(if (a.isEmpty) Seq(Literal(1)) else a).toAggregateExpression()),
    "countMerge" -> (a => Sum(a.head).toAggregateExpression()),
    "sumState" -> (a => Sum(a.head).toAggregateExpression()),
    "sumMerge" -> (a => Sum(a.head).toAggregateExpression()),
    "minState" -> (a => Min(a.head).toAggregateExpression()),
    "minMerge" -> (a => Min(a.head).toAggregateExpression()),
    "maxState" -> (a => Max(a.head).toAggregateExpression()),
    "maxMerge" -> (a => Max(a.head).toAggregateExpression()),
    "uniqState" -> (a => new HllSketchAgg(a.head).toAggregateExpression()),
    // avg's natural two-phase state is (sum, count); avgMerge divides
    // the re-summed parts — the same partial/final shape Spark's own
    // Average uses internally
    "avgState" -> (a => CreateNamedStruct(Seq(
      Literal("s"), Sum(Cast(a.head, DoubleType)).toAggregateExpression(),
      Literal("c"), Count(Seq(a.head)).toAggregateExpression()))),
    "avgMerge" -> (a => Divide(
      Sum(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
        a.head, Literal("s"))).toAggregateExpression(),
      Cast(Sum(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
        a.head, Literal("c"))).toAggregateExpression(), DoubleType))),
    "groupBitAnd" -> (a => BitAndAgg(a.head).toAggregateExpression()),
    "groupBitOr" -> (a => BitOrAgg(a.head).toAggregateExpression()),
    "groupBitXor" -> (a => BitXorAgg(a.head).toAggregateExpression()),
    "uniqMerge" -> (a =>
      HllSketchEstimate(new HllUnionAgg(a.head).toAggregateExpression())),
    // -Array combinators: aggregate over all elements of an array
    // column across rows (SURVEY §2.4 G8 "-Array" -> flatten-then-agg)
    "countArray" -> (a => Sum(Size(a.head)).toAggregateExpression()),
    "sumArray" -> (a => Sum(elementSum(a.head)).toAggregateExpression()),
    "avgArray" -> (a => Divide(
      Sum(elementSum(a.head)).toAggregateExpression(),
      Cast(Sum(Size(a.head)).toAggregateExpression(), DoubleType))),
    "uniqArray" -> (a => Size(ArrayDistinct(Flatten(
      CollectList(a.head).toAggregateExpression())))),
    "countIf" -> (a => Count(nullIfNot(a.head, Literal(1))).toAggregateExpression()),
    "sumIf" -> (a => Sum(nullIfNot(a(1), a(0))).toAggregateExpression()),
    "avgIf" -> (a => Average(nullIfNot(a(1), a(0))).toAggregateExpression()),
    "minIf" -> (a => Min(nullIfNot(a(1), a(0))).toAggregateExpression()),
    "maxIf" -> (a => Max(nullIfNot(a(1), a(0))).toAggregateExpression()),

    // behavioral/funnel analytics (docs-faithful re-implementations;
    // the reference delegates these to chdb, main.py:190). The
    // transpiler rewrites windowFunnel(W[,mode])(ts, ..) etc. into
    // these flat spellings.
    "windowFunnelAgg" -> (a => {
      val w = a.head match {
        case Literal(i: Int, IntegerType) => i.toLong
        case Literal(l: Long, LongType) => l
        case other => throw new IllegalArgumentException(
          s"windowFunnel window must be an integer literal, got $other")
      }
      val flags = a(1) match {
        case Literal(i: Int, IntegerType) => i
        case Literal(l: Long, LongType) => l.toInt
        case other => throw new IllegalArgumentException(
          s"windowFunnel mode flags must be a literal, got $other")
      }
      val fConds = a.drop(3)
      require(fConds.nonEmpty && fConds.size <= 32,
        s"windowFunnel supports 1..32 conditions, got ${fConds.size}")
      graft.functions.WindowFunnelAgg(
        w, (flags & 1) != 0, a(2), fConds.map(asBool),
        strictOrder = (flags & 2) != 0,
        strictDedup = (flags & 4) != 0).toAggregateExpression()
    }),
    "sequenceMatchAgg" -> (a => {
      val pat = litStr(a.head, "sequenceMatch pattern")
      require(a.size - 2 >= 1 && a.size - 2 <= 32,
        s"sequenceMatch supports 1..32 conditions, got ${a.size - 2}")
      graft.functions.SeqPattern.parse(pat, a.size - 2) // plan-time check
      graft.functions.SequenceMatchAgg(
        pat, a(1), a.drop(2).map(asBool)).toAggregateExpression()
    }),
    "sequenceCountAgg" -> (a => {
      val pat = litStr(a.head, "sequenceCount pattern")
      require(a.size - 2 >= 1 && a.size - 2 <= 32,
        s"sequenceCount supports 1..32 conditions, got ${a.size - 2}")
      graft.functions.SeqPattern.parse(pat, a.size - 2) // plan-time check
      graft.functions.SequenceCountAgg(
        pat, a(1), a.drop(2).map(asBool)).toAggregateExpression()
    }),
    // histogramAgg(N, x): Ben-Haim/Tong streaming-parallel adaptive
    // histogram (the transpiler rewrites histogram(N)(x) to this)
    "histogramAgg" -> (a => {
      val n = a.head match {
        case Literal(i: Int, IntegerType) => i
        case Literal(l: Long, LongType) => l.toInt
        case other => throw new IllegalArgumentException(
          s"histogram bin count must be a literal, got $other")
      }
      require(n >= 1 && n <= 1000, s"histogram bins must be 1..1000, got $n")
      graft.functions.HistogramAgg(n, a(1)).toAggregateExpression()
    }),
    "arrayAUC" -> (a => graft.functions.ArrayAuc(
      Cast(a(0), ArrayType(DoubleType)), Cast(a(1), ArrayType(IntegerType)))),
    // vector distance/norm family over Array(Float32/Float64) columns
    "dotProduct" -> (a => dotProduct(a(0), a(1))),
    "scalarProduct" -> (a => dotProduct(a(0), a(1))),
    "arrayDotProduct" -> (a => dotProduct(a(0), a(1))),
    "L1Norm" -> (a => vecFold(a.head, Abs(_))),
    "L2Norm" -> (a => l2Norm(a.head)),
    "L2SquaredNorm" -> (a =>
      graft.functions.VecDot(castD(a.head), castD(a.head))),
    "LinfNorm" -> (a => vecFold(a.head, Abs(_), useMax = true)),
    "L1Distance" -> (a => vecFold(vecZip(a(0), a(1),
      (x, y) => Abs(Subtract(x, y))), identity)),
    "L2Distance" -> (a => Sqrt(vecFold(vecZip(a(0), a(1),
      (x, y) => Multiply(Subtract(x, y), Subtract(x, y))), identity))),
    "L2SquaredDistance" -> (a => vecFold(vecZip(a(0), a(1),
      (x, y) => Multiply(Subtract(x, y), Subtract(x, y))), identity)),
    "LinfDistance" -> (a => vecFold(vecZip(a(0), a(1),
      (x, y) => Abs(Subtract(x, y))), identity, useMax = true)),
    "cosineDistance" -> (a => Subtract(Literal(1d),
      Divide(dotProduct(a(0), a(1)),
        Multiply(l2Norm(a(0)), l2Norm(a(1)))))),
    // normalizeL2: hoist the norm out of the per-element lambda with a
    // Catalyst `With` common-subexpression — embedding l2Norm(arr) in
    // the lambda body re-evaluated the full O(n) fold for EVERY element
    // (O(n²) per row on embedding columns). The optimizer's
    // RewriteWithExpression pulls the def into a Project so the norm is
    // computed once per row; the input array is hoisted too so an
    // expression-valued argument isn't evaluated n+1 times.
    "normalizeL2" -> (a => {
      val x = UnresolvedNamedLambdaVariable(Seq("__graft_vnx"))
      With(a.head) { case Seq(arr) =>
        With(l2Norm(arr)) { case Seq(norm) =>
          ArrayTransform(arr,
            LambdaFunction(Divide(Cast(x, DoubleType), norm), Seq(x)))
        }
      }
    }),
    // deltaSumTimestamp(value, ts): positive consecutive deltas in
    // event-time order (exact buffered variant, see Funnel.scala)
    "deltaSumTimestamp" -> (a =>
      graft.functions.DeltaSumTimestampAgg(a(0), a(1)).toAggregateExpression()),
    // sumCount(x) -> Tuple(sum, count)
    "sumCount" -> (a => CreateStruct(Seq(
      Sum(a.head).toAggregateExpression(),
      Count(Seq(a.head)).toAggregateExpression()))),
    // boundingRatio(x, y): slope between the min-x and max-x points
    "boundingRatio" -> (a => {
      val x = Cast(a(0), DoubleType); val y = Cast(a(1), DoubleType)
      Divide(
        Subtract(MaxBy(y, x).toAggregateExpression(),
          MinBy(y, x).toAggregateExpression()),
        Subtract(Max(x).toAggregateExpression(),
          Min(x).toAggregateExpression()))
    }),
    // retention(c1,..,cN) -> Array(UInt8): r[0] = cond1 ever held for
    // the group, r[i] = cond1 AND cond(i+1) both held (independently,
    // per the ClickHouse docs) — pure composition of Max aggregates,
    // fully codegen'd, no custom state
    "retention" -> (a => {
      require(a.nonEmpty, "retention needs at least one condition")
      def ever(c: Expression): Expression =
        Max(If(asBool(c), Literal(1), Literal(0))).toAggregateExpression()
      val first = ever(a.head)
      CreateArray(first +: a.tail.map(c => Multiply(first, ever(c))))
    })
  ) ++ orConversions ++ tier2Builders

  /** ClickHouse type-name → Spark type for the OrZero/OrNull
    * conversion families (unsigned widened per SURVEY §1.2). */
  private lazy val convTypes: Map[String, DataType] = Map(
    "Int8" -> ByteType, "Int16" -> ShortType, "Int32" -> IntegerType,
    "Int64" -> LongType, "UInt8" -> ShortType, "UInt16" -> IntegerType,
    "UInt32" -> LongType, "UInt64" -> DecimalType(20, 0),
    "Float32" -> FloatType, "Float64" -> DoubleType,
    "Date" -> DateType, "DateTime" -> TimestampType)

  private def tryCastTo(e: Expression, dt: DataType): Expression =
    Cast(e, dt, None, EvalMode.TRY)

  /** to<T>OrNull (try-cast) and to<T>OrZero (try-cast else the type's
    * zero; dates get epoch) — the whole family, generated. */
  private lazy val orConversions: Map[String, Seq[Expression] => Expression] =
    convTypes.flatMap { case (n, dt) =>
      val zero: Expression = dt match {
        case DateType => Cast(Literal(0), DateType) // 1970-01-01
        case TimestampType => Cast(Literal(0L), TimestampType)
        case d: DecimalType => Literal(Decimal(0, d.precision, d.scale), d)
        case other => Literal.default(other)
      }
      Map[String, Seq[Expression] => Expression](
        s"to${n}OrNull" -> (a => tryCastTo(a.head, dt)),
        s"to${n}OrZero" -> (a => Coalesce(Seq(tryCastTo(a.head, dt), zero))))
    }

  /** Second tier of common ClickHouse names (date/time, math, string,
    * array, null-handling, IP, URL-cut, aggregate) — still all native
    * Catalyst, still codegen'd. */
  private lazy val tier2Builders: Map[String, Seq[Expression] => Expression] = {
    // floor a DateTime to an n-second grid (toStartOf*Minutes, timeSlot)
    def toGrid(secs: Long): Seq[Expression] => Expression = a =>
      Cast(Multiply(IntegralDivide(Cast(Cast(a.head, TimestampType),
        LongType), Literal(secs), EvalMode.LEGACY), Literal(secs)), TimestampType)
    def tsPlusSeconds(a: Seq[Expression], secsPerUnit: Long): Expression =
      Cast(Add(Cast(Cast(a(0), TimestampType), LongType),
        Multiply(Cast(a(1), LongType), Literal(secsPerUnit))), TimestampType)
    def tsMinusSeconds(a: Seq[Expression], secsPerUnit: Long): Expression =
      tsPlusSeconds(Seq(a(0), UnaryMinus(a(1))), secsPerUnit)
    val posInf = Literal(Double.PositiveInfinity)
    val negInf = Literal(Double.NegativeInfinity)
    def ipOctet(x: Expression, shift: Int): Expression =
      Cast(BitwiseAnd(ShiftRight(Cast(x, LongType), Literal(shift)),
        Literal(255L)), StringType)

    Map(
      // ---- date & time ----
      "toQuarter" -> (a => Quarter(a.head)),
      "toDayOfYear" -> (a => DayOfYear(a.head)),
      "toISOWeek" -> (a => WeekOfYear(a.head)),
      "toStartOfQuarter" -> (a => TruncDate(Cast(a.head, DateType), Literal("quarter"))),
      "toMonday" -> (a => TruncDate(Cast(a.head, DateType), Literal("week"))),
      // ClickHouse default mode 0 = week starts Sunday; mode 1 = Monday
      "toStartOfWeek" -> (a =>
        if (a.length > 1 && a(1).semanticEquals(Literal(1)))
          TruncDate(Cast(a.head, DateType), Literal("week"))
        else DateSub(TruncDate(DateAdd(Cast(a.head, DateType), Literal(1)),
          Literal("week")), Literal(1))),
      // dateDiff(unit, start, end): count of UNIT BOUNDARIES crossed
      // (ClickHouse semantics, same as DuckDB date_diff — not elapsed
      // duration), end minus start, Int64. Registered as chDateDiff:
      // the transpiler renames dateDiff calls here (Spark's parser
      // special-cases the datediff name ahead of the registry).
      "chDateDiff" -> { a =>
        val unit = a.head match {
          case Literal(u: UTF8String, StringType) => u.toString.toLowerCase
          case _ => throw new IllegalArgumentException(
            "dateDiff: unit must be a string literal")
        }
        def dt(x: Expression) = Cast(x, DateType)
        def epoch(x: Expression) = Cast(Cast(x, TimestampType), LongType)
        def grid(secs: Long) = Subtract(
          IntegralDivide(epoch(a(2)), Literal(secs), EvalMode.LEGACY),
          IntegralDivide(epoch(a(1)), Literal(secs), EvalMode.LEGACY))
        def months(x: Expression) =
          Add(Multiply(Year(dt(x)), Literal(12)), Month(dt(x)))
        def quarters(x: Expression) =
          Add(Multiply(Year(dt(x)), Literal(4)), Quarter(dt(x)))
        val diff: Expression = unit match {
          case "second" => Subtract(epoch(a(2)), epoch(a(1)))
          case "minute" => grid(60L)
          case "hour" => grid(3600L)
          case "day" => DateDiff(dt(a(2)), dt(a(1)))
          case "week" => IntegralDivide(
            Cast(DateDiff(TruncDate(dt(a(2)), Literal("week")),
              TruncDate(dt(a(1)), Literal("week"))), LongType),
            Literal(7L), EvalMode.LEGACY)
          case "month" => Subtract(months(a(2)), months(a(1)))
          case "quarter" => Subtract(quarters(a(2)), quarters(a(1)))
          case "year" => Subtract(Year(dt(a(2))), Year(dt(a(1))))
          case other => throw new IllegalArgumentException(
            s"dateDiff: unsupported unit $other")
        }
        Cast(diff, LongType)
      },
      // extractAll(s, re): all matches; with a capture group, the
      // group's matches (ClickHouse contract)
      "extractAll" -> { a =>
        val idx = a(1) match {
          case Literal(p: UTF8String, StringType) =>
            val groups = try java.util.regex.Pattern.compile(p.toString)
              .matcher("").groupCount() catch { case _: Throwable => 0 }
            Literal(if (groups >= 1) 1 else 0)
          case _ => Literal(0)
        }
        RegExpExtractAll(a(0), a(1), idx)
      },
      // dateName(part, d): named parts as text (month/weekday names,
      // numeric parts stringified)
      "dateName" -> { a =>
        val part = a.head match {
          case Literal(u: UTF8String, StringType) => u.toString.toLowerCase
          case _ => throw new IllegalArgumentException(
            "dateName: part must be a string literal")
        }
        def ts = Cast(a(1), TimestampType)
        def dt = Cast(a(1), DateType)
        part match {
          case "month" => DateFormatClass(ts, Literal("MMMM"))
          case "weekday" => DateFormatClass(ts, Literal("EEEE"))
          case "year" => Cast(Year(dt), StringType)
          case "quarter" => Cast(Quarter(dt), StringType)
          case "week" => Cast(WeekOfYear(dt), StringType)
          case "dayofyear" => Cast(DayOfYear(dt), StringType)
          case "day" => Cast(DayOfMonth(dt), StringType)
          case "hour" => Cast(Hour(ts), StringType)
          case "minute" => Cast(Minute(ts), StringType)
          case "second" => Cast(Second(ts), StringType)
          case other => throw new IllegalArgumentException(
            s"dateName: unsupported part $other")
        }
      },
      // human-readable renderers (published ClickHouse output shapes:
      // two decimals, binary suffixes for size, short scale for
      // quantity; values below the first threshold keep the bare %.2f)
      "formatReadableSize" -> { a =>
        val x = Cast(a.head, DoubleType)
        val units = Seq("B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB")
        val branches = units.init.zipWithIndex.map { case (u, i) =>
          val scale = math.pow(1024d, i.toDouble)
          (LessThan(Abs(x, failOnError = false), Literal(scale * 1024d)),
            FormatString(Literal(s"%.2f $u"),
              Divide(x, Literal(scale))): Expression)
        }
        CaseWhen(branches, Some(FormatString(Literal("%.2f EiB"),
          Divide(x, Literal(math.pow(1024d, 6d))))))
      },
      "formatReadableQuantity" -> { a =>
        val x = Cast(a.head, DoubleType)
        val units = Seq("" -> 1d, " thousand" -> 1e3, " million" -> 1e6,
          " billion" -> 1e9, " trillion" -> 1e12)
        val branches = units.init.map { case (u, scale) =>
          (LessThan(Abs(x, failOnError = false), Literal(scale * 1000d)),
            FormatString(Literal(s"%.2f$u"),
              Divide(x, Literal(scale))): Expression)
        }
        CaseWhen(branches, Some(FormatString(Literal("%.2f trillion"),
          Divide(x, Literal(1e12)))))
      },
      "toStartOfFiveMinutes" -> toGrid(300),
      "toStartOfTenMinutes" -> toGrid(600),
      "toStartOfFifteenMinutes" -> toGrid(900),
      "timeSlot" -> toGrid(1800),
      "yesterday" -> (_ => DateSub(CurrentDate(), Literal(1))),
      // ClickHouse rand() is uniform UInt32, rand64() uniform UInt64
      // (bit pattern as Long) — nondeterministic, spec-ranged
      "rand" -> (_ => Cast(Multiply(new Rand(), Literal(4294967296d)), LongType)),
      // two independent 32-bit draws fill all 64 bits uniformly (one
      // double draw only reaches ~2^53 coarse values and saturates the
      // extremes under cast)
      "rand64" -> (_ => BitwiseOr(
        ShiftLeft(Cast(Multiply(new Rand(), Literal(4294967296d)), LongType),
          Literal(32)),
        Cast(Multiply(new Rand(), Literal(4294967296d)), LongType))),
      // toStartOfInterval(ts, INTERVAL n unit) — the dashboard
      // time-bucket. Spark parses the literal as a day-time (micros)
      // or year-month (months) interval; day-time floors on the
      // epoch-seconds grid, year-month floors months-since-epoch.
      "toStartOfInterval" -> { a =>
        a(1) match {
          case Literal(us: Long, _: DayTimeIntervalType) =>
            val secs = math.max(us / 1000000L, 1L)
            Cast(Multiply(IntegralDivide(Cast(Cast(a(0), TimestampType),
              LongType), Literal(secs), EvalMode.LEGACY), Literal(secs)),
              TimestampType)
          case Literal(m: Int, _: YearMonthIntervalType) =>
            val d = Cast(a(0), DateType)
            // months since 1970-01 floored to the m-grid
            val months = Add(Multiply(Subtract(Year(d), Literal(1970)),
              Literal(12)), Subtract(Month(d), Literal(1)))
            val fl = Multiply(IntegralDivide(months, Literal(m),
              EvalMode.LEGACY), Literal(m))
            MakeDate(Add(Literal(1970), Cast(IntegralDivide(fl, Literal(12),
              EvalMode.LEGACY), IntegerType)),
              Add(Cast(Remainder(fl, Literal(12)), IntegerType), Literal(1)),
              Literal(1))
          case other => throw new IllegalArgumentException(
            s"toStartOfInterval expects an INTERVAL literal, got $other")
        }
      },
      "now64" -> (_ => Cast(Cast(CurrentTimestamp(), LongType), TimestampType)),
      "toDateTime64" -> (a => Cast(a.head, TimestampType)),
      "addHours" -> (a => tsPlusSeconds(a, 3600)),
      "addMinutes" -> (a => tsPlusSeconds(a, 60)),
      "addSeconds" -> (a => tsPlusSeconds(a, 1)),
      "addWeeks" -> (a => DateAdd(a(0), Multiply(a(1), Literal(7)))),
      "addYears" -> (a => AddMonths(a(0), Multiply(a(1), Literal(12)))),
      "subtractHours" -> (a => tsMinusSeconds(a, 3600)),
      "subtractMinutes" -> (a => tsMinusSeconds(a, 60)),
      "subtractSeconds" -> (a => tsMinusSeconds(a, 1)),
      "subtractWeeks" -> (a => DateSub(a(0), Multiply(a(1), Literal(7)))),
      "subtractMonths" -> (a => AddMonths(a(0), UnaryMinus(a(1)))),
      "subtractYears" -> (a => AddMonths(a(0), Multiply(a(1), Literal(-12)))),
      "parseDateTimeBestEffort" -> (a => Coalesce(Seq(
        tryCastTo(a.head, TimestampType),        // ISO & friends
        Cast(tryCastTo(a.head, LongType), TimestampType)))), // unix seconds
      "parseDateTimeBestEffortOrNull" -> (a => Coalesce(Seq(
        tryCastTo(a.head, TimestampType),
        Cast(tryCastTo(a.head, LongType), TimestampType)))),

      // ---- math ----
      "exp10" -> (a => Pow(Literal(10d), Cast(a.head, DoubleType))),
      "intExp10" -> (a => Cast(Round(Pow(Literal(10d),
        Cast(a.head, DoubleType)), Literal(0)), LongType)),
      "roundBankers" -> (a => BRound(Cast(a.head, DoubleType),
        if (a.length > 1) a(1) else Literal(0))),
      "bitCount" -> (a => BitwiseCount(a.head)),

      // ---- null / float classification (ClickHouse call forms) ----
      "isNull" -> (a => IsNull(a.head)),
      "isNotNull" -> (a => IsNotNull(a.head)),
      "assumeNotNull" -> (a => a.head),
      "toNullable" -> (a => a.head),
      "isNaN" -> (a => IsNaN(Cast(a.head, DoubleType))),
      "isInfinite" -> (a => Or(
        EqualTo(Cast(a.head, DoubleType), posInf),
        EqualTo(Cast(a.head, DoubleType), negInf))),
      "isFinite" -> (a => And(Not(IsNaN(Cast(a.head, DoubleType))),
        And(Not(EqualTo(Cast(a.head, DoubleType), posInf)),
          Not(EqualTo(Cast(a.head, DoubleType), negInf))))),

      // ---- JSON (tier 2) ----
      "JSONLength" -> (a => LengthOfJsonArray(
        if (a.length > 1) GetJsonObject(a(0), jsonPath(a(1))) else a(0))),
      "JSONExtractKeys" -> (a => JsonObjectKeys(
        if (a.length > 1) GetJsonObject(a(0), jsonPath(a(1))) else a(0))),

      // ---- date parse ----
      // parseDateTime(s, '%Y-%m-%d ...') — MySQL-style tokens, same
      // mapping formatDateTime uses in reverse
      "parseDateTime" -> (a => new ParseToTimestamp(a(0), chFormatToJava(a(1)))),
      "parseDateTimeOrNull" -> (a => TryToTimestampExpressionBuilder.build(
        "parseDateTimeOrNull", Seq(a(0), chFormatToJava(a(1))))),

      // ---- geo ----
      // great-circle distance in meters (haversine, R = 6371 km — the
      // published formula ClickHouse documents for greatCircleDistance)
      "greatCircleDistance" -> { a =>
        def rad(e: Expression) = Multiply(Cast(e, DoubleType),
          Literal(math.Pi / 180d))
        val (lon1, lat1, lon2, lat2) = (rad(a(0)), rad(a(1)), rad(a(2)), rad(a(3)))
        val dLat = Subtract(lat2, lat1)
        val dLon = Subtract(lon2, lon1)
        val h = Add(
          Multiply(Sin(Divide(dLat, Literal(2d))), Sin(Divide(dLat, Literal(2d)))),
          Multiply(Multiply(Cos(lat1), Cos(lat2)),
            Multiply(Sin(Divide(dLon, Literal(2d))), Sin(Divide(dLon, Literal(2d))))))
        Multiply(Literal(2d * 6371000d), Asin(Sqrt(h)))
      },

      // ---- string ----
      "mid" -> (a => Substring(a(0), a(1), a(2))),
      "base64Encode" -> (a => Base64(Cast(a.head, BinaryType))),
      "base64Decode" -> (a => Cast(UnBase64(a.head), StringType)),
      "splitByWhitespace" -> (a => StringSplit(a.head, Literal("\\s+"), Literal(-1))),
      "countMatches" -> (a => RegExpCount(a(0), a(1))),
      "cutQueryString" -> (a => RegExpReplace(a.head, Literal("\\?.*$"), Literal(""))),
      "cutFragment" -> (a => RegExpReplace(a.head, Literal("#.*$"), Literal(""))),
      "cutQueryStringAndFragment" ->
        (a => RegExpReplace(a.head, Literal("[?#].*$"), Literal(""))),
      "pathFull" -> (a => Concat(Seq(
        new ParseUrl(Seq(a.head, Literal("PATH"))),
        Coalesce(Seq(Concat(Seq(Literal("?"),
          new ParseUrl(Seq(a.head, Literal("QUERY"))))), Literal("")))))),
      "encodeURLComponent" -> (a => UrlEncode(a.head)),
      "decodeURLComponent" -> (a => UrlDecode(a.head)),

      // ---- misc scalar tail ----
      // dateTrunc(unit, ts) and Spark's date_trunc(fmt, ts) share the
      // argument order and unit names
      "dateTrunc" -> (a => TruncTimestamp(a(0), a(1))),
      "generateUUIDv4" -> (_ => new Uuid()),
      "toTypeName" -> (a => graft.functions.TypeNameOf(a.head)),

      // ---- IPv4 ----
      "IPv4NumToString" -> (a => ConcatWs(Literal(".") +:
        Seq(24, 16, 8, 0).map(s => ipOctet(a.head, s)))),
      "IPv4StringToNum" -> { a =>
        val parts = StringSplit(a.head, Literal("\\."), Literal(-1))
        def oct(i: Int, mul: Long) =
          Multiply(Cast(ElementAt(parts, Literal(i)), LongType), Literal(mul))
        Add(Add(oct(1, 16777216L), oct(2, 65536L)), Add(oct(3, 256L), oct(4, 1L)))
      },

      // ---- arrays (tier 2) ----
      "arrayMin" -> (a => ArrayMin(a.head)),
      "arrayMax" -> (a => ArrayMax(a.head)),
      "arrayAvg" -> (a => Divide(elementSum(a.head), Cast(Size(a.head), DoubleType))),
      "arrayProduct" -> { a =>
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_px"))
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_pacc"))
        val out = UnresolvedNamedLambdaVariable(Seq("__graft_pout"))
        ArrayAggregate(a.head, Literal(1d),
          LambdaFunction(Multiply(acc, Cast(x, DoubleType)), Seq(acc, x)),
          LambdaFunction(out, Seq(out)))
      },
      "arrayPushBack" -> (a => Concat(Seq(a(0), CreateArray(Seq(a(1)))))),
      "arrayPushFront" -> (a => Concat(Seq(CreateArray(Seq(a(1))), a(0)))),
      "arrayPopBack" -> (a => Slice(a.head, Literal(1),
        Greatest(Seq(Subtract(Size(a.head), Literal(1)), Literal(0))))),
      "arrayPopFront" -> (a => Slice(a.head, Literal(2),
        Greatest(Seq(Subtract(Size(a.head), Literal(1)), Literal(0))))),
      // first/last/firstIndex take the lambda FIRST (ClickHouse order).
      // Expressed as single ArrayAggregate folds — the analyzer only
      // resolves user lambdas when the builder's top-level result IS a
      // HigherOrderFunction (see lambdaFold). The accumulator is a
      // 0/1-element array of the source's own element type (seeded with
      // an empty slice), so no type must be named statically.
      "arrayFirst" -> { a =>
        val lf = a(0).asInstanceOf[LambdaFunction]
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_facc"))
        val out = UnresolvedNamedLambdaVariable(Seq("__graft_fout"))
        ArrayAggregate(a(1), Slice(a(1), Literal(1), Literal(0)),
          LambdaFunction(If(And(EqualTo(Size(acc), Literal(0)), lf.function),
            CreateArray(Seq(lf.arguments.head)), acc),
            Seq(acc, lf.arguments.head)),
          LambdaFunction(If(EqualTo(Size(out), Literal(0)), Literal(null),
            ElementAt(out, Literal(1))), Seq(out)))
      },
      "arrayLast" -> { a =>
        val lf = a(0).asInstanceOf[LambdaFunction]
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_lacc"))
        val out = UnresolvedNamedLambdaVariable(Seq("__graft_lout"))
        ArrayAggregate(a(1), Slice(a(1), Literal(1), Literal(0)),
          LambdaFunction(If(lf.function,
            CreateArray(Seq(lf.arguments.head)), acc),
            Seq(acc, lf.arguments.head)),
          LambdaFunction(If(EqualTo(Size(out), Literal(0)), Literal(null),
            ElementAt(out, Literal(1))), Seq(out)))
      },
      // accumulator [foundIndex, cursor]; 0 = no match (ClickHouse)
      "arrayFirstIndex" -> { a =>
        val lf = a(0).asInstanceOf[LambdaFunction]
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_iacc"))
        val out = UnresolvedNamedLambdaVariable(Seq("__graft_iout"))
        def fnd(e: Expression) = ElementAt(e, Literal(1))
        def cur(e: Expression) = ElementAt(e, Literal(2))
        ArrayAggregate(a(1), CreateArray(Seq(Literal(0L), Literal(0L))),
          LambdaFunction(If(And(EqualTo(fnd(acc), Literal(0L)), lf.function),
            CreateArray(Seq(Add(cur(acc), Literal(1L)),
              Add(cur(acc), Literal(1L)))),
            CreateArray(Seq(fnd(acc), Add(cur(acc), Literal(1L))))),
            Seq(acc, lf.arguments.head)),
          LambdaFunction(fnd(out), Seq(out)))
      },
      // dense ids in first-appearance order
      "arrayEnumerateDense" -> { a =>
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_dx"))
        ArrayTransform(a.head,
          LambdaFunction(ArrayPosition(ArrayDistinct(a.head), x), Seq(x)))
      },
      // per-element occurrence number among equal values (1-based)
      "arrayEnumerateUniq" -> { a =>
        val i = UnresolvedNamedLambdaVariable(Seq("__graft_ui"))
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_ux"))
        ArrayTransform(Sequence(Literal(1), Size(a.head), None),
          LambdaFunction(Size(ArrayFilter(
            Slice(a.head, Literal(1), i),
            LambdaFunction(EqualTo(x, ElementAt(a.head, i)), Seq(x)))), Seq(i)))
      },
      // [0, a2-a1, a3-a2, ...] (ClickHouse keeps the first slot 0)
      "arrayDifference" -> { a =>
        val i = UnresolvedNamedLambdaVariable(Seq("__graft_di"))
        ArrayTransform(Sequence(Literal(1), Size(a.head), None),
          LambdaFunction(If(EqualTo(i, Literal(1)),
            Multiply(ElementAt(a.head, i), Literal(0)),
            Subtract(ElementAt(a.head, i),
              ElementAt(a.head, Subtract(i, Literal(1))))), Seq(i)))
      },
      // running prefix sums, one O(n) fold building the result array
      "arrayCumSum" -> { a =>
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_cx"))
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_cacc"))
        val out = UnresolvedNamedLambdaVariable(Seq("__graft_cout"))
        ArrayAggregate(a.head,
          Cast(CreateArray(Seq.empty, useStringTypeWhenEmpty = false),
            ArrayType(DoubleType)),
          LambdaFunction(Concat(Seq(acc, CreateArray(Seq(Add(
            If(EqualTo(Size(acc), Literal(0)), Literal(0d),
              ElementAt(acc, Literal(-1))),
            Cast(x, DoubleType)))))), Seq(acc, x)),
          LambdaFunction(out, Seq(out)))
      },

      // ---- aggregates (tier 2) ----
      // sumMap(keys, values): per-key sums over parallel arrays — the
      // Nested-metrics aggregate (custom mergeable state, SumMap.scala)
      "sumMap" -> (a =>
        graft.functions.SumMapAgg(a(0), a(1)).toAggregateExpression()),
      "minMap" -> (a =>
        graft.functions.SumMapAgg(a(0), a(1), "min").toAggregateExpression()),
      "maxMap" -> (a =>
        graft.functions.SumMapAgg(a(0), a(1), "max").toAggregateExpression()),
      "avgWeighted" -> (a => Divide(
        Sum(Multiply(Cast(a(0), DoubleType), Cast(a(1), DoubleType)))
          .toAggregateExpression(),
        Sum(Cast(a(1), DoubleType)).toAggregateExpression())),
      // (quantile/quantileExact/quantiles parametric forms are rewritten
      // to Spark `percentile` by the Transpiler before the registry)
      "sumKahan" -> (a => Sum(Cast(a.head, DoubleType)).toAggregateExpression()),
      "skewPop" -> (a => Skewness(Cast(a.head, DoubleType)).toAggregateExpression()),
      "kurtPop" -> (a => Kurtosis(Cast(a.head, DoubleType)).toAggregateExpression()),

      // hex/unhex (ClickHouse renders uppercase, like Spark's Hex)
      "hex" -> (a => Hex(a.head)),
      "unhex" -> (a => new Unhex(a.head)),

      // arrayFold(lambda, arr, init) — ClickHouse's argument order;
      // Spark's aggregate() with an identity finish
      "arrayFold" -> { a =>
        val out = UnresolvedNamedLambdaVariable(Seq("__graft_fold_out"))
        ArrayAggregate(a(1), a(2), a(0).asInstanceOf[LambdaFunction],
          LambdaFunction(out, Seq(out)))
      },
      // countEqual(arr, x): one aggregate fold (a Size(ArrayFilter)
      // composition is rejected for registered builders — see the
      // foldWithUserLambda note above)
      "countEqual" -> { a =>
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_ce_x"))
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_ce_acc"))
        val out = UnresolvedNamedLambdaVariable(Seq("__graft_ce_out"))
        ArrayAggregate(a(0), Literal(0L),
          LambdaFunction(Add(acc,
            If(EqualNullSafe(x, a(1)), Literal(1L), Literal(0L))), Seq(acc, x)),
          LambdaFunction(out, Seq(out)))
      },
      "concatWithSeparator" -> (a => ConcatWs(a)),
      "emptyArrayString" ->
        (_ => Literal.create(Array.empty[String], ArrayType(StringType))),
      // lagInFrame/leadInFrame — ClickHouse's in-frame names for the
      // standard window functions (an OVER clause is still required)
      "lagInFrame" -> (a => Lag(a.head,
        if (a.length > 1) a(1) else Literal(1),
        if (a.length > 2) a(2) else Literal(null), ignoreNulls = false)),
      "leadInFrame" -> (a => Lead(a.head,
        if (a.length > 1) a(1) else Literal(1),
        if (a.length > 2) a(2) else Literal(null), ignoreNulls = false)),

      // bar(x, min, max[, width=80]) — the tutorial histogram renderer.
      // Published output shape: full blocks '█' plus one eighth-block
      // char for the fractional remainder (▏▎▍▌▋▊▉)
      "bar" -> { a =>
        val x = Cast(a(0), DoubleType)
        val mn = Cast(a(1), DoubleType)
        val mx = Cast(a(2), DoubleType)
        val w = if (a.length > 3) Cast(a(3), DoubleType) else Literal(80d)
        val frac = Multiply(Divide(Subtract(x, mn), Subtract(mx, mn)), w)
        val clamped = Least(Seq(Greatest(Seq(frac, Literal(0d))), w))
        // total eighths, then full blocks + remainder — avoids the
        // rem==8 corner a floor/round split would hit
        val te = Cast(Round(Multiply(clamped, Literal(8d)), Literal(0)),
          IntegerType)
        val full = Cast(IntegralDivide(te, Literal(8), EvalMode.LEGACY),
          IntegerType)
        val rem = Cast(Remainder(te, Literal(8)), IntegerType)
        val eighths = CreateArray(
          Seq("", "▏", "▎", "▍", "▌", "▋",
            "▊", "▉").map(Literal(_)))
        Concat(Seq(StringRepeat(Literal("█"), full),
          ElementAt(eighths, Add(rem, Literal(1)), None, false)))
      },
      // transform(x, from, to[, default]) — value decode; unmatched x
      // falls back to default, or x itself (ClickHouse contract).
      // CAREFUL: registering this name shadows Spark's builtin
      // transform(array, lambda) HOF for every session query — the
      // lambda form must be routed back to ArrayTransform
      "transform" -> { a =>
        if (a.length == 2 || a.exists(_.isInstanceOf[LambdaFunction]))
          ArrayTransform(a(0), a(1))
        else {
          val lookup = ElementAt(MapFromArrays(a(1), a(2)), a(0), None, false)
          Coalesce(Seq(lookup, if (a.length > 3) a(3) else a(0)))
        }
      },

      // ---- external dictionaries (lookup side; DDL in Ddl/Dictionaries).
      // Compiled to ElementAt over a map literal — codegen'd, shipped
      // once per executor in the broadcast task binary ----
      "dictGet" -> (Dictionaries.dictGet _),
      "dictGetOrDefault" -> (Dictionaries.dictGetOrDefault _),
      "dictGetOrNull" -> (Dictionaries.dictGetOrNull _),
      "dictHas" -> (Dictionaries.dictHas _),
      "dictGetString" -> Dictionaries.dictGetTyped(StringType),
      "dictGetUInt8" -> Dictionaries.dictGetTyped(ShortType),
      "dictGetUInt16" -> Dictionaries.dictGetTyped(IntegerType),
      "dictGetUInt32" -> Dictionaries.dictGetTyped(LongType),
      "dictGetUInt64" -> Dictionaries.dictGetTyped(DecimalType(20, 0)),
      "dictGetInt8" -> Dictionaries.dictGetTyped(ByteType),
      "dictGetInt16" -> Dictionaries.dictGetTyped(ShortType),
      "dictGetInt32" -> Dictionaries.dictGetTyped(IntegerType),
      "dictGetInt64" -> Dictionaries.dictGetTyped(LongType),
      "dictGetFloat32" -> Dictionaries.dictGetTyped(FloatType),
      "dictGetFloat64" -> Dictionaries.dictGetTyped(DoubleType),
      "dictGetDate" -> Dictionaries.dictGetTyped(DateType),
      "dictGetDateTime" -> Dictionaries.dictGetTyped(TimestampType)
    )
  }

  /** (name, isAggregate) inventory for `system.functions` — the Play
    * UI's autocomplete probe. Classification is runtime-accurate: each
    * builder is probed with literal args and checked for an
    * AggregateExpression (no hand-maintained agg list to drift). */
  def functionInventory: Seq[(String, Boolean)] =
    builders.toSeq.map { case (n, b) =>
      val agg = (1 to 3).exists { k =>
        try b(Seq.fill(k)(Literal(1)))
          .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]
        catch { case _: Throwable => false }
      }
      (n, agg)
    }.sortBy(_._1)

  /** Capacity of Spark's generated-class cache. The 43 ClickBench
    * statements compile 324 distinct classes (plus 8 at boot), and
    * Spark's default of 100 evicted them between passes, so every
    * statement Janino-compiled its code again (326-359 classes per
    * pass, most of the HTTP statement's floor). 1,000 is three times
    * that working set. Measured cost: +8 MB of live heap after a full
    * GC for the ClickBench set (93 -> 101 MB, ~24 KB per class), so
    * ~25 MB when full. */
  val CodegenCacheEntries = 1000

  /** Idempotently register every ClickHouse name on the session.
    * Skips (and never races) when the session is already set up —
    * Engine.execute calls this per statement, possibly from many
    * server threads.
    *
    * Also raises the session's codegen cache capacity to
    * [[CodegenCacheEntries]] (a higher value is kept). The key is a
    * static conf, which `spark.conf.set` refuses; `CodeGenerator`
    * reads it from the active session once, when it builds its cache
    * at the JVM's first compile, and every entry path calls this
    * before its first query.
    *
    * And it makes [[graft.LocalFs]] the session's `file:` file system,
    * so local writes set permissions without forking `chmod`. Every
    * SQL conf reaches the Hadoop conf of the session's reads and
    * writes; Hadoop's file system cache already holds a `file:`
    * instance by now (the warehouse path was qualified through it), so
    * the session asks for uncached instances. No caller relies on a
    * local instance's `deleteOnExit`, which only `close` would run. */
  def register(spark: SparkSession): Unit = {
    val cap = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
    val conf = spark.sessionState.conf
    if (conf.getConf(cap) < CodegenCacheEntries)
      conf.setConfString(cap.key, CodegenCacheEntries.toString)
    if (!conf.contains("fs.file.impl")) {
      conf.setConfString("fs.file.impl.disable.cache", "true")
      conf.setConfString("fs.file.impl", graft.LocalFs.Impl)
    }
    if (registered(spark)) return
    spark.synchronized {
      if (registered(spark)) return
      val reg = spark.sessionState.functionRegistry
      builders.foreach { case (name, b) =>
        reg.createOrReplaceTempFunction(name, b, "built-in")
      }
      // dialect optimizer rules ride along with the function registry
      // (sessions built via GraftExtensions get them injected instead)
      val extra = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations =
        extra ++ graft.GraftExtensions.optimizerRules.filterNot(extra.contains)
    }
  }

  /** Register every dialect function through the standard extensions
    * plug-in point (see [[graft.GraftExtensions]]): sessions built with
    * `spark.sql.extensions=graft.GraftExtensions` get the full registry
    * at construction. */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.dialect.ChFunctions", name),
        (children: Seq[Expression]) => b(children)))
    }

  def registered(spark: SparkSession): Boolean =
    // a name that only this registry provides (Spark has its own
    // builtin `version`, so that is NOT a usable sentinel)
    spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("toYYYYMM"))
}

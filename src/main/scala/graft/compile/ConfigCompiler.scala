package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{CastType, SourceConfig}
import graft.functions.{CastRules, PerQuery}

/** Compiled result of applying a [[SourceConfig]] to an input frame.
  * One row per input row, with:
  *   - `event`      resolved event name
  *   - `properties` typed struct of the mapped + wildcard properties
  *   - `error`      null for good rows; DLQ struct for bad ones
  */
final case class CompiledEvents(df: DataFrame) {
  /** Rows that mapped cleanly. */
  def ok: DataFrame =
    df.filter(col("error").isNull).drop("error", "_counters")
  /** Transform-error dead-letter channel (`M/main.py:151-162`). */
  def dlq: DataFrame = df.filter(col("error").isNotNull).select("error.*")
  /** A3 monitoring counters as a one-row frame (`M/main.py:145,274-277`):
    * total rows, DLQ'd rows, rows missing both distinct ids (counted,
    * not rejected), and timestamp-parse failures (per occurrence). */
  def counters: DataFrame =
    df.agg(CompiledEvents.counterAggs.head, CompiledEvents.counterAggs.tail: _*)
  /** Attach the same counters as an `Observation` — zero extra passes;
    * metrics materialize with the first action on a frame derived from
    * the returned one. */
  def observed(obs: org.apache.spark.sql.Observation): CompiledEvents =
    CompiledEvents(df.observe(obs, CompiledEvents.counterAggs.head,
      CompiledEvents.counterAggs.tail: _*))
  /** Final wire format: one JSON text line per event with nulls
    * stripped (`M/main.py:278-284`; `to_json` drops null fields). */
  def json: DataFrame =
    ok.select(to_json(struct(col("event"), col("properties"))).as("event_json"))
  /** `event` + one column per property — oracle-friendly shape. */
  def flat: DataFrame = ok.select(col("event") +: ok.select("properties.*")
    .columns.map(n => col(s"properties.`$n`")): _*)
}

object CompiledEvents {
  /** The `error` column's type: one transform dead-letter record. */
  val ErrorType: StructType = StructType(
    Seq("error_type", "config_id", "source_field", "original_row")
      .map(StructField(_, StringType)))

  private[compile] val counterAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    count(when(col("error").isNotNull, 1)).as("n_dlq"),
    count(when(col("error").isNull && col("_counters.missing_distinct_id"), 1))
      .as("missing_distinct_id"),
    coalesce(sum(col("_counters.ts_parse_errors")), lit(0L)).cast("long")
      .as("ts_parse_errors"))
}

object ConfigCompiler {

  /** @param deterministic replace `uuid4()` / `now()` nondeterminism
    *   (`M/main.py:261-263,270-273,128-129`) with reproducible
    *   surrogates so results are oracle-checkable (SURVEY.md §7.5).
    * @param fixedClockEpoch the deterministic stand-in for now().
    * @param token project token injected into every event
    *   (`M/main.py:198`); empty => omitted. */
  final case class Options(
      deterministic: Boolean = true,
      fixedClockEpoch: Long = 1700000000L,
      token: String = "")

  /** Hoist the reference's per-row interpreted mapping loop
    * (`M/main.py:184-293`) to a single Catalyst projection built once
    * per (config, schema): casts/renames/required-checks/defaults all
    * become codegen'd expressions, so per-row work is pure columnar
    * compute — no interpretation, no UDFs. The generated code holds no
    * per-query value (seed, clock), so a warm JVM re-runs it from
    * Spark's codegen cache with no compile, as the reference builds
    * `MapEvents` once per worker (`M/main.py:145`). */
  def compile(cfg: SourceConfig, input: DataFrame, opts: Options = Options()): CompiledEvents = {
    val schema = input.schema
    val fieldType: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    def rawCol(name: String): Option[(Column, DataType)] =
      fieldType.get(name).map(dt => (col(s"`$name`"), dt))

    val originalRowJson = to_json(struct(schema.fieldNames.map(n => col(s"`$n`")): _*))

    def dlqStruct(errorType: String, sourceField: Column): Column = struct(
      lit(errorType).as("error_type"),
      lit(cfg.configId).as("config_id"),
      sourceField.as("source_field"),
      originalRowJson.as("original_row"))

    // --- event name (`M/main.py:184-195`) -------------------------------
    // `if not event_name` tests Python truthiness of the RAW value
    // (`M/main.py:186-188`): None/"" for strings (the string "0" is
    // truthy!), 0 for numerics (NaN scrubs to None first), False for
    // booleans. Only then is the name used as-is in the output JSON.
    val (eventCol, eventBad): (Column, Option[Column]) = cfg.eventNameField match {
      case Some(f) =>
        rawCol(f) match {
          case Some((c, dt)) =>
            val v = CastRules.stringCast(c, dt)
            val bad = dt match {
              case StringType     => c.isNull || c === ""
              case BooleanType    => c.isNull || !c
              case _: NumericType =>
                CastRules.scrub(c, dt).isNull || CastRules.scrub(c, dt) === 0
              case _ => v.isNull || v === ""
            }
            (v, Some(bad))
          case None => (lit(null).cast(StringType), Some(lit(true)))
        }
      case None => (lit(cfg.resolvedStaticName), None)
    }
    val eventErr: Option[Column] = eventBad.map(bad =>
      when(bad, dlqStruct("missing_dynamic_event_name",
        lit(cfg.eventNameField.orNull))))

    // --- deterministic surrogates (SURVEY.md §7.5) -----------------------
    // otherwise [[PerQuery]]: the query's time and seed reach generated
    // code by reference, so Spark compiles the projection once per JVM
    val clock: Column =
      if (opts.deterministic) lit(opts.fixedClockEpoch)
      else PerQuery.unixNow
    def freshUuid: Column =
      if (opts.deterministic) md5(concat_ws("", lit(cfg.configId), originalRowJson))
      else PerQuery.uuid

    val concrete = cfg.fieldMappings.filterNot(_.isWildcard)

    // --- per-mapping value + required-error conditions -------------------
    // (mapping loop `M/main.py:202-265`; first required-miss wins).
    // `abortSoFar` tracks whether the reference would have `return`ed
    // before reaching mapping i (event-name DLQ or an earlier required
    // miss) — parse-error counting must not fire past an abort.
    var requiredErrs = Vector.empty[Column]
    var mappedProps = Vector.empty[(String, Column)]
    var truthyProps = Map.empty[String, Column]
    var tsErrFlags = Vector.empty[Column]
    var abortSoFar: Column = eventBad.getOrElse(lit(false))
    val mappedSourceFields = concrete.map(_.sourceField).toSet

    concrete.foreach { fm =>
      val rawOpt = rawCol(fm.sourceField)
      val scrubbed: Column = rawOpt match {
        case Some((c, dt)) => CastRules.scrub(c, dt)
        case None          => lit(null)
      }
      if (fm.isRequiredInSource)
        requiredErrs :+= when(scrubbed.isNull,
          dlqStruct("missing_required_field", lit(fm.sourceField)))

      val value: Column = rawOpt match {
        case Some((c, dt)) =>
          val casted = CastRules(fm.castType, c, dt)
          // timestamp-parse-error counter (`M/main.py:145`): value
          // present but the dateutil-ish parse failed. Counted per
          // occurrence, only on rows the mapping loop actually reaches.
          if (fm.castType == CastType.UnixTimestampAuto && dt == StringType)
            tsErrFlags :+= when(!abortSoFar && scrubbed.isNotNull &&
              casted.isNull, 1).otherwise(0)
          fm.castType match {
            case CastType.StringOrUuid if fm.targetField == "$insert_id" =>
              // `M/main.py:260-263`: `_to_str(value) or str(uuid4())` —
              // Python `or` replaces "" as well as None with a fresh uuid.
              when(casted.isNull || casted === "", freshUuid).otherwise(casted)
            case CastType.UnixTimestampAuto if fm.targetField == "time" =>
              // unparseable/missing `time` falls back to now()
              // (`M/main.py:257-259`)
              coalesce(casted, clock)
            case _ => casted
          }
        case None =>
          fm.castType match {
            case CastType.StringOrUuid if fm.targetField == "$insert_id" => freshUuid
            case CastType.UnixTimestampAuto if fm.targetField == "time"  => clock
            case _ => lit(null)
          }
      }
      if (fm.isRequiredInSource) abortSoFar = abortSoFar || scrubbed.isNull
      // Python-truthiness of the FINAL property value, used by the
      // missing-distinct-id counter (`M/main.py:274-277`). Keyed by the
      // declared cast so the test stays type-aware ("" falsy, "0"
      // truthy for strings; 0 falsy for numerics).
      val truthy: Column = fm.castType match {
        case CastType.StringT | CastType.StringOrUuid =>
          value.isNotNull && value =!= ""
        case CastType.IntegerT | CastType.FloatT |
             CastType.UnixTimestampAuto => value.isNotNull && value =!= 0
        case CastType.BooleanTruthy => coalesce(value, lit(false))
        case CastType.Passthrough => rawOpt match {
          case Some((_, StringType)) => value.isNotNull && value =!= ""
          case Some((_, _: NumericType)) => value.isNotNull && value =!= 0
          case Some((_, BooleanType)) => coalesce(value, lit(false))
          case _ => value.isNotNull
        }
      }
      truthyProps += (fm.targetField -> truthy)
      // A null value under target `time` without include_if_none means the
      // key is skipped (`M/main.py:218-223`) and the now() default fires
      // (`M/main.py:270-271`); with include_if_none the null is kept and
      // later stripped WITHOUT a default.
      val withTimeDefault =
        if (fm.targetField == "time" && !fm.includeIfNone) coalesce(value, clock)
        else value
      mappedProps :+= (fm.targetField -> withTimeDefault)
    }

    // --- wildcard passthrough of unmapped columns (`M/main.py:266-269`) --
    val wildcardProps: Vector[(String, Column)] =
      if (cfg.hasWildcard)
        schema.fields.toVector
          .filterNot(f => mappedSourceFields.contains(f.name))
          .map(f => f.name -> CastRules.scrub(col(s"`${f.name}`"), f.dataType))
      else Vector.empty
    if (cfg.hasWildcard)
      schema.fields.toVector
        .filterNot(f => mappedSourceFields.contains(f.name))
        .foreach { f =>
          val v = CastRules.scrub(col(s"`${f.name}`"), f.dataType)
          val truthy = f.dataType match {
            case StringType     => v.isNotNull && v =!= ""
            case _: NumericType => v.isNotNull && v =!= 0
            case BooleanType    => coalesce(v, lit(false))
            case _              => v.isNotNull
          }
          truthyProps += (f.name -> truthy)
        }

    // --- defaults (`M/main.py:270-273`) ----------------------------------
    // `time` / `$insert_id` injected only when the key is absent from the
    // properties dict. A mapping (or wildcard hit) makes the key present —
    // kept-nulls survive to _strip_none and suppress the default (the
    // `time` per-row default is folded into the mapping value above;
    // `$insert_id` is always-kept so a mapping for it suppresses the
    // uuid default entirely).
    val propNames = (mappedProps ++ wildcardProps).map(_._1)

    val timeProp: Vector[(String, Column)] =
      if (propNames.contains("time")) Vector.empty
      else Vector("time" -> clock)
    val insertIdProp: Vector[(String, Column)] =
      if (propNames.contains("$insert_id")) Vector.empty
      else Vector("$insert_id" -> freshUuid)

    val tokenProp: Vector[(String, Column)] =
      if (opts.token.nonEmpty) Vector("token" -> lit(opts.token)) else Vector.empty

    // dict semantics: later assignment to the same key wins
    val allProps: Vector[(String, Column)] =
      (tokenProp ++ mappedProps.map { case (n, c) => (n, c) } ++ wildcardProps ++
        timeProp ++ insertIdProp)
        .foldLeft(Vector.empty[(String, Column)]) { case (acc, (n, c)) =>
          acc.filterNot(_._1 == n) :+ (n -> c)
        }

    val propsStruct = struct(allProps.map { case (n, c) => c.as(n) }: _*)

    // --- error channel: event-name error first, then required fields in
    // mapping order (reference returns at the first failure) -------------
    val errorChain = (eventErr.toVector ++ requiredErrs)
    val errorCol =
      if (errorChain.isEmpty) lit(null).cast(CompiledEvents.ErrorType)
      else coalesce(errorChain: _*)

    // --- A3 counter flags (`M/main.py:145,274-277`) ----------------------
    // missing_distinct_id: neither $user_id nor $device_id is truthy in
    // the final properties dict — counted on mapped (non-DLQ) rows only.
    val missingDistinctId =
      !(truthyProps.get("$user_id").getOrElse(lit(false)) ||
        truthyProps.get("$device_id").getOrElse(lit(false)))
    val tsParseErrors =
      if (tsErrFlags.isEmpty) lit(0) else tsErrFlags.reduce(_ + _)
    val countersStruct = struct(
      missingDistinctId.as("missing_distinct_id"),
      tsParseErrors.as("ts_parse_errors"))

    CompiledEvents(input.select(
      eventCol.as("event"),
      propsStruct.as("properties"),
      errorCol.as("error"),
      countersStruct.as("_counters")))
  }
}

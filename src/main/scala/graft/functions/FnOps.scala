package graft.functions

import graft.{Q, QueryModule, RangeFirst, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.8 scalar-function families + §2.11 UDF/UDTF surface.
  *
  * One compound query per family. Dialect traps handled here:
  *  - DuckDB length()/year()/size() return BIGINT where Spark returns int
  *    → Spark side casts to long so parquet schemas line up.
  *  - DuckDB regexp_replace needs the 'g' flag to replace-all (Spark's
  *    default); patterns are kept in the Java∩RE2 common subset.
  *  - Spark datediff(end,start) vs DuckDB date_diff('day',start,end).
  *  - No float→string formatting anywhere (engine-specific repr).
  *
  * All functions are codegen'd builtins (one Scala UDF in udf_scalar,
  * intentionally, next to its native rewrite) — whole-stage codegen spans
  * stay wide, which is what keeps these cheap at 100 TB.
  */
object FnOps extends QueryModule {

  private val slugifyUdf = udf { s: String =>
    if (s == null) null
    else {
      val t = s.trim.toLowerCase.replaceAll("[^a-z0-9]+", "-")
      t.stripPrefix("-").stripSuffix("-")
    }
  }

  override def queries: Map[String, Q.Fn] = Map(
    // csv scalar functions: serialize a struct row to a csv line and
    // parse a csv line against an inline schema — the embedded-csv
    // column surface (logs carrying csv payloads inside a field)
    "fn_csv" -> ((s, d) =>
      RangeFirst.sorted(Tables.events(s, d), "event_id")(_
        .select(col("event_id"),
          expr("to_csv(struct(event_id, user_id, event_type))").as("as_csv"),
          expr("from_csv(concat(event_id, ',', event_type)," +
            " 'id BIGINT, t STRING').t").as("parsed_t")))),

    // error-safe arithmetic/casts (ANSI-adjacent `try_*` surface): bad
    // rows become NULL instead of failing the job — the semantics a
    // 100 TB pipeline needs, where one malformed cell must never kill a
    // stage. Oracle mirrors with NULLIF-guarded division and TRY_CAST.
    "fn_try" -> ((s, d) =>
      RangeFirst.sorted(Tables.events(s, d), "event_id")(_
        .select(col("event_id"),
          expr("try_divide(value, user_id % 3)").as("div_guarded"),
          expr("try_cast(event_type AS INT)").as("cast_guarded"),
          expr("try_cast(get_json_object(props, '$.k') AS INT)")
            .as("json_int")))),

    // PII-style masking (governance surface): Spark's mask() defaults —
    // upper→'X', lower→'x', digit→'n', other chars kept — replicated in
    // the oracle as three global regexp passes, so the redaction rule is
    // provably identical in both engines. Narrow per-row op, no shuffle.
    "fn_mask" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("mask(c_name)").as("name_masked"),
          expr("mask(concat('ACCT-', CAST(c_acctbal AS STRING)))")
            .as("acct_masked"),
          expr("mask(c_mktsegment, 'U', 'l', '#')").as("seg_masked"))
        .orderBy("c_custkey")),

    "fn_string" -> ((s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          trim(concat(lit(" "), col("p_name"), lit(" "))).as("trimmed"),
          substring(col("p_name"), 1, 5).as("sub5"),
          length(col("p_name")).cast(LongType).as("len"),
          concat(col("p_brand"), lit(" "), col("p_name")).as("cat"),
          element_at(split(col("p_name"), " "), 1).as("first_tok"),
          regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("devoweled"))
        .orderBy("p_partkey")),

    // regexp family beyond fn_string's extract/replace: boolean rlike,
    // match counting, bounded-quantifier extraction, global replacement.
    // Patterns are RE2-compatible basics so Java (Spark) and RE2 (DuckDB)
    // semantics coincide.
    "fn_regexp" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          col("text").rlike("merge .* window").cast(LongType)
            .as("has_merge_window"),
          expr("regexp_count(text, 'ta[a-z]*')").as("n_ta"),
          regexp_extract(col("text"), "(s[a-z]{3,})", 1).as("first_s_word"),
          regexp_replace(col("text"), "qu[a-z]+", "Q").as("q_masked"))
        .orderBy("doc_id")),

    // sub-day timestamp surface on the µs-precision events table:
    // component extraction, epoch seconds, truncation, interval shift.
    // All timestamp OUTPUTS are second-truncated so the ns (DuckDB raw
    // read) vs µs (Spark nanosAsLong conversion) representations cannot
    // diverge; weekday uses Spark weekday() ↔ DuckDB isodow-1 (both
    // 0 = Monday).
    "fn_timestamp" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          hour(col("ts")).cast(LongType).as("h"),
          minute(col("ts")).cast(LongType).as("mi"),
          second(col("ts")).cast(LongType).as("sec"),
          weekday(col("ts")).cast(LongType).as("wd"),
          unix_timestamp(col("ts")).as("epoch_s"),
          date_trunc("minute", col("ts")).as("min_start"),
          date_trunc("second", col("ts") + expr("INTERVAL 90 SECOND"))
            .as("plus_90s"),
          to_date(col("ts")).as("d"))
        .orderBy("event_id")),

    "fn_date" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast(LongType).as("y"),
          month(col("o_orderdate")).cast(LongType).as("m"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
          date_trunc("month", col("o_orderdate")).as("mon_start"),
          (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("plus_30d"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast(LongType).as("days_since_95"),
          unix_timestamp(col("o_orderdate")).as("unix_s"),
          to_date(col("o_orderdate")).as("dt"))
        .orderBy("o_orderkey")),

    "fn_math" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice").cast(DecimalType(18, 2)), 1)
            .cast(DoubleType).as("rounded"),
          abs(col("l_extendedprice") - lit(50000.0)).as("dist"),
          sqrt(col("l_extendedprice")).as("sq"),       // sqrt is IEEE-exact
          (col("l_quantity") * col("l_quantity")).as("qty2"),
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 25, "mid")
            .otherwise("high").as("bucket"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none"))
            .as("flag_or_none"))
        .orderBy("l_orderkey", "l_linenumber")),

    "fn_array" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).cast(LongType).as("n_dims"),
          array_min(col("embedding")).as("mn"),
          array_max(col("embedding")).as("mx"),
          element_at(col("embedding"), 3).as("e3"),
          size(filter(col("embedding"), x => x > 0.2)).cast(LongType)
            .as("n_big"),
          // sum of squares in double space, sequential on both engines;
          // norms are ~1.0, far from the round-4 boundary
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)), 4)
            .as("ssq"))
        .orderBy("vec_id")),

    // URL parsing surface: parse_url component extraction on synthesized
    // deterministic URLs (tables carry none); the oracle recomputes each
    // component from the same source columns.
    "fn_url" -> ((s, d) => {
      val url = concat(lit("https://data.example.org/"),
        lower(col("event_type")), lit("/"), col("event_id"),
        lit("?u="), col("user_id"), lit("&k=v"))
      Tables.events(s, d)
        .select(col("event_id"), url.as("url"))
        .select(col("event_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          expr("parse_url(url, 'QUERY', 'u')").as("q_u"))
        .orderBy("event_id")
    }),

    // XML ingestion surface (native in Spark 4): structured from_xml
    // parse plus the xpath_* scalar family — the legacy-feed reader.
    // The XML payload is synthesized in-engine from relational columns
    // (the tables carry no XML), so the oracle recomputes the extracted
    // values from the same source columns directly.
    "fn_xml" -> ((s, d) => {
      val payload = concat(lit("<ev><id>"), col("event_id"),
        lit("</id><type>"), col("event_type"), lit("</type><user>"),
        col("user_id"), lit("</user></ev>"))
      RangeFirst.sorted(Tables.events(s, d), "event_id")(_
        .select(col("event_id"), payload.as("xml"))
        .select(col("event_id"),
          expr("from_xml(xml, 'id BIGINT, type STRING, user BIGINT')")
            .as("p"),
          expr("xpath_long(xml, '/ev/user/text()')").as("xp_user"))
        .select(col("event_id"), col("p.type").as("etype"),
          col("p.user").as("uid"), col("xp_user")))
    }),

    // VARIANT semi-structured type (Spark 4): parse once into the binary
    // variant encoding, then typed extraction — the open-schema path for
    // JSON columns whose shape drifts (vs fn_map/fn_json's fixed-schema
    // parses). try_variant_get on an absent path yields NULL, not an
    // error — the tolerant read a drifting feed needs.
    "fn_variant" -> ((s, d) =>
      RangeFirst.sorted(Tables.events(s, d), "event_id")(_
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k_int"),
          expr("try_variant_get(parse_json(props), '$.missing', 'string')")
            .as("missing_val"),
          (expr("variant_get(parse_json(props), '$.k', 'int')") * 2)
            .as("k_doubled")))),

    // binary↔text encodings: base64 and hex round trips (inputs kept
    // under 57 bytes — MIME base64 line-wraps at 76 chars and engines
    // disagree beyond that); rt_ok proves decode∘encode = id in-engine
    "fn_encode" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          base64(col("c_mktsegment").cast("binary")).as("b64"),
          hex(col("c_name").cast("binary")).as("hx"),
          (unbase64(base64(col("c_mktsegment").cast("binary")))
            .cast("string") === col("c_mktsegment")).cast(LongType)
            .as("rt_ok"))
        .orderBy("c_custkey")),

    // struct surface: build, nest, extract, and branch on struct fields —
    // all narrow per-row ops (the oracle sees the flattened projection;
    // the struct round-trip is the Spark-side mechanism under test, same
    // split as fn_map's map side)
    "fn_struct" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("st"),
            struct(col("o_custkey").as("ck")).as("inner")).as("sx"))
        .select(col("o_orderkey"),
          col("sx.st").as("status"),
          col("sx.inner.ck").as("cust"),
          when(col("sx.st") === "F", col("sx.inner.ck")).otherwise(-1L)
            .as("cond_cust"))
        .orderBy("o_orderkey")),

    "fn_map" -> ((s, d) => {
      val m = from_json(col("props"), MapType(StringType, IntegerType))
      Tables.events(s, d)
        .select(
          col("event_id"),
          element_at(map_keys(m), 1).as("first_key"),
          element_at(m, "k").as("k_val"),
          size(map_values(m)).cast(LongType).as("n_vals"))
        .orderBy("event_id")
    }),

    "fn_json" -> ((s, d) =>
      RangeFirst.sorted(Tables.events(s, d), "event_id")(_
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"),
          (get_json_object(col("props"), "$.k").cast(IntegerType) % 10)
            .as("k_mod")))),

    // conditional family: greatest/least/nvl/nvl2/if across columns
    "fn_cond" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("gmax"),
          least(col("l_quantity"), col("l_tax") * 100).as("lmin"),
          expr("if(l_returnflag = 'R', 'returned', 'kept')").as("ret"),
          expr("nvl2(nullif(l_returnflag, 'N'), 'flagged', 'normal')")
            .as("flag2"),
          expr("ifnull(nullif(l_linestatus, 'O'), 'open')").as("status"))
        .orderBy("l_orderkey", "l_linenumber")),

    // cryptographic/content hash family — cross-engine-identical hex
    // strings (the primitives behind dedup_exact / sample_hash / simhash)
    "fn_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(col("text").cast(BinaryType)).as("h_md5"),
          sha2(col("text").cast(BinaryType), 256).as("h_sha256"),
          substring(md5(concat(col("text"), lit("|salt"))), 1, 8)
            .as("h_salted8"))
        .orderBy("doc_id")),

    // bitwise family over integer keys
    "fn_bitwise" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(lit(255L))).as("lo8"),
          (col("o_orderkey").bitwiseOR(lit(4096L))).as("with_bit"),
          (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("key_xor"),
          shiftleft(col("o_orderkey"), 3).as("shl3"),
          shiftright(col("o_orderkey"), 2).as("shr2"))
        .orderBy("o_orderkey")),

    // the Scala-UDF slug next to its preferred native rewrite — identical
    // outputs, so one oracle covers both and the plan shows the codegen
    // difference (UDF = BatchEvalScala, native = whole-stage codegen)
    "udf_scalar" -> ((s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          slugifyUdf(col("p_name")).as("slug"),
          regexp_replace(trim(lower(col("p_name"))), "[^a-z0-9]+", "-")
            .as("slug_native"))
        .orderBy("p_partkey")),

    "udtf_gen" -> ((s, d) =>
      Tables.documents(s, d)
        .where(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("token"))
        .orderBy("doc_id", "pos"))
  )

  override def oracles: Map[String, String] = Map(
    "fn_csv" ->
      """SELECT event_id,
        |  CAST(event_id AS VARCHAR) || ',' || CAST(user_id AS VARCHAR)
        |    || ',' || event_type AS as_csv,
        |  event_type AS parsed_t
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_try" ->
      """SELECT event_id,
        |  value / NULLIF(user_id % 3, 0) AS div_guarded,
        |  TRY_CAST(event_type AS INT) AS cast_guarded,
        |  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS json_int
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_mask" ->
      """SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(c_name,
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |    AS name_masked,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    'ACCT-' || CAST(c_acctbal AS VARCHAR),
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |    AS acct_masked,
        |  regexp_replace(regexp_replace(regexp_replace(c_mktsegment,
        |    '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '#', 'g')
        |    AS seg_masked
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "fn_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_brand) AS lo,
        |  trim(' ' || p_name || ' ') AS trimmed,
        |  substring(p_name, 1, 5) AS sub5,
        |  length(p_name) AS len,
        |  p_brand || ' ' || p_name AS cat,
        |  string_split(p_name, ' ')[1] AS first_tok,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled
        |FROM part ORDER BY p_partkey""".stripMargin,
    // DuckDB regexp_replace needs the 'g' flag to mirror Spark's
    // replace-all; regexp_count is spelled len(regexp_extract_all)
    "fn_regexp" ->
      """SELECT doc_id,
        |  CAST(regexp_matches(text, 'merge .* window') AS BIGINT)
        |    AS has_merge_window,
        |  CAST(len(regexp_extract_all(text, 'ta[a-z]*')) AS INT) AS n_ta,
        |  regexp_extract(text, '(s[a-z]{3,})', 1) AS first_s_word,
        |  regexp_replace(text, 'qu[a-z]+', 'Q', 'g') AS q_masked
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fn_timestamp" ->
      """SELECT event_id,
        |  CAST(hour(ts) AS BIGINT) AS h,
        |  CAST(minute(ts) AS BIGINT) AS mi,
        |  CAST(second(ts) AS BIGINT) AS sec,
        |  CAST(isodow(ts) - 1 AS BIGINT) AS wd,
        |  epoch_ms(ts) // 1000 AS epoch_s,
        |  date_trunc('minute', ts) AS min_start,
        |  date_trunc('second', ts + INTERVAL 90 SECOND) AS plus_90s,
        |  CAST(ts AS DATE) AS d
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_date" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  day(o_orderdate) AS dom,
        |  date_trunc('month', o_orderdate) AS mon_start,
        |  o_orderdate + INTERVAL 30 DAY AS plus_30d,
        |  date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_95,
        |  epoch_ms(o_orderdate) // 1000 AS unix_s,
        |  CAST(o_orderdate AS DATE) AS dt
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS rounded,
        |  abs(l_extendedprice - 50000.0) AS dist,
        |  sqrt(l_extendedprice) AS sq,
        |  l_quantity * l_quantity AS qty2,
        |  CASE WHEN l_quantity < 10 THEN 'low'
        |       WHEN l_quantity < 25 THEN 'mid' ELSE 'high' END AS bucket,
        |  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_array" ->
      """SELECT vec_id,
        |  len(embedding) AS n_dims,
        |  list_min(embedding) AS mn, list_max(embedding) AS mx,
        |  embedding[3] AS e3,
        |  len(list_filter(embedding, x -> x > 0.2)) AS n_big,
        |  round(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 4) AS ssq
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "fn_url" ->
      """SELECT event_id,
        |  'data.example.org' AS host,
        |  '/' || lower(event_type) || '/' || CAST(event_id AS VARCHAR)
        |    AS path,
        |  'u=' || CAST(user_id AS VARCHAR) || '&k=v' AS query,
        |  CAST(user_id AS VARCHAR) AS q_u
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_xml" ->
      """SELECT event_id, event_type AS etype, user_id AS uid,
        |  user_id AS xp_user
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.missing') AS missing_val,
        |  CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k_doubled
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_encode" ->
      """SELECT c_custkey,
        |  base64(encode(c_mktsegment)) AS b64,
        |  hex(encode(c_name)) AS hx,
        |  CAST(decode(from_base64(base64(encode(c_mktsegment))))
        |       = c_mktsegment AS BIGINT) AS rt_ok
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "fn_struct" ->
      """SELECT o_orderkey, o_orderstatus AS status, o_custkey AS cust,
        |  CASE WHEN o_orderstatus = 'F' THEN o_custkey ELSE -1 END
        |    AS cond_cust
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_map" ->
      """SELECT event_id,
        |  json_keys(props)[1] AS first_key,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_vals
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_cond" ->
      """SELECT l_orderkey, l_linenumber,
        |  greatest(l_quantity, l_discount * 100) AS gmax,
        |  least(l_quantity, l_tax * 100) AS lmin,
        |  CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END AS ret,
        |  CASE WHEN NULLIF(l_returnflag, 'N') IS NOT NULL
        |       THEN 'flagged' ELSE 'normal' END AS flag2,
        |  COALESCE(NULLIF(l_linestatus, 'O'), 'open') AS status
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_hash" ->
      """SELECT doc_id,
        |  md5(text) AS h_md5,
        |  sha256(text) AS h_sha256,
        |  substring(md5(text || '|salt'), 1, 8) AS h_salted8
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fn_bitwise" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS lo8,
        |  o_orderkey | 4096 AS with_bit,
        |  xor(o_orderkey, o_custkey) AS key_xor,
        |  o_orderkey << 3 AS shl3,
        |  o_orderkey >> 2 AS shr2
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "udf_scalar" ->
      """SELECT p_partkey,
        |  trim(regexp_replace(lower(trim(p_name)), '[^a-z0-9]+', '-', 'g'), '-') AS slug,
        |  regexp_replace(trim(lower(p_name)), '[^a-z0-9]+', '-', 'g') AS slug_native
        |FROM part ORDER BY p_partkey""".stripMargin,
    "udtf_gen" ->
      """SELECT doc_id,
        |  unnest(range(len(string_split(text, ' ')))) AS pos,
        |  unnest(string_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_id, pos""".stripMargin
  )
}

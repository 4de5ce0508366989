package graft.queries

import graft._
import graft.T._
import org.apache.spark.sql.functions._

/** LATERAL VIEW / UDTF / ScriptOperator surface (SURVEY.md §2.7 + §2.8
  * UDTFs): explode/posexplode(+outer), stack, inline, json_tuple /
  * get_json_object, map construction + extraction, TRANSFORM USING.
  *
  * Scale notes: generators run inside WholeStageCodegen (GenerateExec);
  * word-explosion fan-out is bounded per-row, so the downstream
  * aggregation dominates and gets map-side partial agg as usual.
  */
object Lateral extends QueryPack {

  def defs: Seq[QueryDef] = Seq(

    // LATERAL VIEW explode(split(..)) — word frequency top-k.
    q("q_explode_words",
      """SELECT word, COUNT(*) AS freq FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY freq DESC, word LIMIT 25""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("word")).limit(25)
    },

    // posexplode: position + value.
    q("q_posexplode",
      """SELECT doc_id, CAST(pos AS INT) AS pos, word FROM (
        |  SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
        |         unnest(w) AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents WHERE doc_id < 5))
        |WHERE pos <= 2 ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 5)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "word")
        .filter(col("pos") <= 2)
        .orderBy("doc_id", "pos")
    },

    // explode_outer: NULL collections keep their row (LEFT LATERAL).
    q("q_explode_outer",
      """SELECT d.doc_id, u.word
        |FROM (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN NULL
        |             ELSE string_split(text, ' ') END AS w
        |      FROM documents WHERE doc_id < 15) d
        |LEFT JOIN LATERAL (SELECT unnest(d.w) AS word) u ON TRUE
        |ORDER BY doc_id, word NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 15)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(null))
            .otherwise(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), explode_outer(col("w")).as("word"))
        .orderBy(col("doc_id"), col("word").asc_nulls_first)
    },

    // stack UDTF (GenericUDTFStack).
    q("q_stack",
      """SELECT tag, val FROM (
        |  SELECT 'name' AS tag, r_name AS val FROM region
        |  UNION ALL
        |  SELECT 'upper' AS tag, upper(r_name) AS val FROM region)
        |ORDER BY tag, val""".stripMargin) { (s, dir) =>
      t(s, dir, "region")
        .selectExpr("stack(2, 'name', r_name, 'upper', upper(r_name)) AS (tag, val)")
        .orderBy("tag", "val")
    },

    // inline UDTF (GenericUDTFInline): explode array<struct>.
    q("q_inline",
      """SELECT k, name FROM (
        |  SELECT r_regionkey AS k, r_name AS name FROM region
        |  UNION ALL
        |  SELECT r_regionkey + 100, lower(r_name) FROM region)
        |ORDER BY k, name""".stripMargin) { (s, dir) =>
      t(s, dir, "region")
        .selectExpr(
          "inline(array(struct(r_regionkey AS k, r_name AS name), " +
            "struct(r_regionkey + 100 AS k, lower(r_name) AS name)))")
        .orderBy("k", "name")
    },

    // get_json_object + json_tuple (UDFJson / GenericUDTFJSONTuple) over
    // the events.props JSON column.
    q("q_json_funcs",
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k2,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        // json_tuple is a generator: it must be projected alone (its output
        // column is `c0`) and cast in a FOLLOW-UP select — nesting it inside
        // Cast throws UNSUPPORTED_GENERATOR.NESTED_IN_EXPRESSIONS.
        t(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("int").as("k1"),
            json_tuple(col("props"), "k"))
          .select(col("event_type"), col("k1"), col("c0").cast("int").as("k2"))
          .groupBy("event_type")
          .agg(sum(col("k1")).as("sum_k"), sum(col("k2")).as("sum_k2"),
            count(lit(1)).as("cnt"))
          .orderBy("event_type")
    },

    // VARIANT semi-structured type (beyond reference — Spark 4's
    // binary-encoded JSON; Hive's closest surface is string
    // get_json_object, ~10× slower at scale because every access
    // re-parses text while VARIANT parses ONCE into a typed binary a
    // codegen'd variant_get then navigates): events re-encoded as JSON,
    // parsed with parse_json, and scalar/array paths extracted with
    // typed variant_get ('$.t' string, '$.v' double, '$.u' bigint,
    // '$.vals[1]' array index). The oracle computes the same aggregates
    // straight from the source columns, so the check proves the FULL
    // round trip — to_json → parse_json → typed path extraction — is
    // lossless (doubles survive via shortest-repr printing; the ×2
    // array element is exponent-exact). 100 TB: parse once per row,
    // scan-local, no shuffle before the final groupBy.
    q("q_variant_json",
      """SELECT event_type AS etype, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v_total,
        |  CAST(SUM(user_id) AS BIGINT) AS u_sum,
        |  CAST(SUM(CAST(value * 2 AS DECIMAL(18,4))) AS DOUBLE) AS v2_total
        |FROM events WHERE event_id < 5000
        |GROUP BY etype ORDER BY etype""".stripMargin) { (s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 5000)
        .select(to_json(struct(
          col("event_type").as("t"), col("value").as("v"),
          col("user_id").as("u"),
          array(col("value"), col("value") * 2).as("vals"))).as("j"))
        .select(parse_json(col("j")).as("var"))
        .select(
          expr("variant_get(var, '$.t', 'string')").as("etype"),
          expr("variant_get(var, '$.v', 'double')").as("v"),
          expr("variant_get(var, '$.u', 'bigint')").as("u"),
          expr("variant_get(var, '$.vals[1]', 'double')").as("v2"))
        .groupBy("etype")
        .agg(count(lit(1)).as("cnt"), dsum(col("v")).as("v_total"),
          sum(col("u")).as("u_sum"), dsum(col("v2")).as("v2_total"))
        .orderBy("etype")
    },

    // XML ROUND TRIP with typed from_xml (Spark 4 — Hive's xpath_*
    // UDFs return strings the caller re-casts; from_xml parses the
    // document ONCE into a typed struct, the XML twin of the VARIANT
    // query above): events rendered as XML rows, parsed back with an
    // explicit schema, fields extracted typed. The oracle aggregates
    // the source columns directly — the check proves render → parse →
    // extract lossless (doubles survive via shortest-repr printing).
    // xpath-style string extraction stays covered by q_fn_url_xml.
    q("q_xml_roundtrip",
      """SELECT event_type AS etype, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v_total,
        |  CAST(SUM(user_id) AS BIGINT) AS u_sum
        |FROM events WHERE event_id < 5000
        |GROUP BY etype ORDER BY etype""".stripMargin) { (s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 5000)
        .select(concat(
          lit("<ev><t>"), col("event_type"), lit("</t><v>"),
          col("value").cast("string"), lit("</v><u>"),
          col("user_id").cast("string"), lit("</u></ev>")).as("x"))
        .select(from_xml(col("x"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "t STRING, v DOUBLE, u BIGINT")).as("r"))
        .groupBy(col("r.t").as("etype"))
        .agg(count(lit(1)).as("cnt"), dsum(col("r.v")).as("v_total"),
          sum(col("r.u")).as("u_sum"))
        .orderBy("etype")
    },

    // map / str_to_map / element_at / map_keys (GenericUDFMap family).
    // Complex outputs are serialized to strings (concat_ws over map_keys)
    // because the driver's comparator can't sort array cells.
    q("q_map_ops",
      """SELECT doc_id, lang AS lang_v, source AS src_v,
        |  'lang,src' AS ks
        |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 10)
        .select(col("doc_id"),
          map(lit("lang"), col("lang"), lit("src"), col("source")).as("m"),
          expr("str_to_map(concat('lang:', lang, ',src:', source), ',', ':')")
            .as("m2"))
        .select(col("doc_id"),
          element_at(col("m"), "lang").as("lang_v"),
          element_at(col("m2"), "src").as("src_v"),
          concat_ws(",", map_keys(col("m"))).as("ks"))
        .orderBy("doc_id")
    },

    // Map HIGHER-ORDER lambdas (transform_values / map_filter /
    // map_zip_with — the map half of the lambda surface, q_fn_array_hof
    // has the array half): per-customer order-priority count maps built
    // with map_from_entries, values doubled, filtered to priorities seen
    // >1 times, and zipped against a second map (integer cents per
    // order via long division — no cross-engine float rounding) —
    // then EXPLODED back to sorted (key, value) rows, because relational
    // rows are the engine-neutral comparison form (DuckDB's map type
    // doesn't round-trip the comparator). The oracle computes the same
    // relation directly from the flat aggregate — proving the lambda
    // pipeline preserves exactly the relational semantics it encodes.
    q("q_map_hof",
      """WITH agg AS (
        |  SELECT o_custkey, o_orderpriority AS pri,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders WHERE o_custkey < 100 GROUP BY 1, 2)
        |SELECT o_custkey AS custkey, pri,
        |  CAST(n * 2 AS BIGINT) AS n2x,
        |  cents // n AS cents_per_order
        |FROM agg WHERE n > 1
        |ORDER BY custkey, pri""".stripMargin) { (s, dir) =>
      val agg = t(s, dir, "orders").filter(col("o_custkey") < 100)
        .groupBy(col("o_custkey"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
      val maps = agg.groupBy("o_custkey")
        .agg(
          map_from_entries(sort_array(collect_list(
            struct(col("pri"), col("n"))))).as("cnt_m"),
          map_from_entries(sort_array(collect_list(
            struct(col("pri"), col("cents"))))).as("rev_m"))
      // One generator + other columns is allowed in a single select, so
      // rpo_m rides along with the explode — no self-join re-derivation.
      maps.select(col("o_custkey"),
          expr("map_filter(transform_values(cnt_m, (k, v) -> v * 2)," +
            " (k, v) -> v > 2)").as("cnt2_m"),
          expr("map_zip_with(cnt_m, rev_m, (k, c, r) -> r div c)")
            .as("rpo_m"))
        .select(col("o_custkey").as("custkey"),
          explode(col("cnt2_m")).as(Seq("pri", "n2x")), col("rpo_m"))
        .select(col("custkey"), col("pri"), col("n2x"),
          element_at(col("rpo_m"), col("pri")).as("cents_per_order"))
        .orderBy("custkey", "pri")
    },

    // replicate_rows UDTF (GenericUDTFReplicateRows — §2.8 mapping:
    // explode(array_repeat())): each region row emitted key+1 times.
    q("q_replicate_rows",
      """SELECT r_regionkey, r_name, COUNT(*) AS copies
        |FROM (SELECT r_regionkey, r_name,
        |        unnest(range(0, r_regionkey + 1)) AS i FROM region)
        |GROUP BY r_regionkey, r_name ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"),
          explode(array_repeat(lit(1), (col("r_regionkey") + 1).cast("int")))
            .as("i"))
        .groupBy("r_regionkey", "r_name")
        .agg(count(lit(1)).as("copies"))
        .orderBy("r_regionkey")
    },

    // matchpath PTF (ql/udf/ptf/MatchPath.class — SURVEY.md §2.5, the one
    // genuinely novel Hive operator): regex over per-user event-symbol
    // sequences; here "ce" = an error immediately after a click. Oracle =
    // the lag-window rewrite of that specific pattern.
    q("q_ptf_matchpath",
      """WITH sy AS (
        |  SELECT user_id, epoch_us(ts) AS ord,
        |    CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
        |      ELSE 'x' END AS sym
        |  FROM events),
        |m AS (
        |  SELECT user_id, LAG(ord) OVER w AS match_ord
        |  FROM (SELECT user_id, ord, sym,
        |          LAG(sym) OVER (PARTITION BY user_id ORDER BY ord) AS psym
        |        FROM sy)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ord)
        |  QUALIFY sym = 'e' AND psym = 'c')
        |SELECT user_id AS key, COUNT(*) AS n_matches,
        |  CAST(MIN(match_ord) AS BIGINT) AS first_match_ord
        |FROM m GROUP BY user_id ORDER BY key""".stripMargin) { (s, dir) =>
      // µs ordinals on both sides (DuckDB truncates the ns column to µs).
      val sy = t(s, dir, "events")
        .select(col("user_id"), expr("ts_ns div 1000").as("ord"),
          when(col("event_type") === "click", "c")
            .when(col("event_type") === "error", "e")
            .otherwise("x").as("sym"))
      MatchPath(sy, "user_id", "ord", "sym", "ce")
        .groupBy("key")
        .agg(count(lit(1)).as("n_matches"),
          min(col("match_ord")).as("first_match_ord"))
        .orderBy("key")
    },

    // matchpath with a QUANTIFIER: "cx*e" = a click, any run of
    // non-click/non-error events, then an error. Exercises the regex
    // surface beyond fixed strings (Hive matchpath's sym* syntax).
    // Oracle = gaps-and-islands rewrite: an 'e' row matches iff the
    // nearest preceding non-'x' row is a 'c' (x* consumes the run, so
    // each anchor 'c' matches exactly at the FIRST following non-x when
    // it's an 'e'); match length = the row distance c→e + 1.
    q("q_ptf_matchpath_star",
      """WITH sy AS (
        |  SELECT user_id, epoch_us(ts) AS ord,
        |    CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
        |      ELSE 'x' END AS sym
        |  FROM events),
        |r AS (
        |  SELECT user_id, ord, sym,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ord) AS rn
        |  FROM sy),
        |nx AS (
        |  SELECT user_id, ord, sym, rn,
        |    MAX(CASE WHEN sym <> 'x' THEN rn END) OVER
        |      (PARTITION BY user_id ORDER BY ord
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_nonx_rn
        |  FROM r),
        |m AS (
        |  SELECT e.user_id, c.ord AS match_ord, e.rn - c.rn + 1 AS match_len
        |  FROM nx e JOIN r c
        |    ON e.user_id = c.user_id AND e.prev_nonx_rn = c.rn
        |  WHERE e.sym = 'e' AND c.sym = 'c')
        |SELECT user_id AS key, COUNT(*) AS n_matches,
        |  CAST(MIN(match_ord) AS BIGINT) AS first_match_ord,
        |  CAST(SUM(match_len) AS BIGINT) AS len_sum
        |FROM m GROUP BY user_id ORDER BY key""".stripMargin) { (s, dir) =>
      val sy = t(s, dir, "events")
        .select(col("user_id"), expr("ts_ns div 1000").as("ord"),
          when(col("event_type") === "click", "c")
            .when(col("event_type") === "error", "e")
            .otherwise("x").as("sym"))
      MatchPath(sy, "user_id", "ord", "sym", "cx*e")
        .groupBy("key")
        .agg(count(lit(1)).as("n_matches"),
          min(col("match_ord")).as("first_match_ord"),
          sum(col("match_len")).cast("long").as("len_sum"))
        .orderBy("key")
    },

    // ScriptOperator: TRANSFORM ... USING 'cat' — rows piped through an
    // external process (SURVEY.md §2.7). Identity script: output = input
    // as tab-separated strings.
    q("q_transform_script",
      """SELECT CAST(r_regionkey AS VARCHAR) AS k, r_name AS name
        |FROM region ORDER BY k""".stripMargin) { (s, dir) =>
      scoped(s, "region" -> t(s, dir, "region")) { v =>
        s.sql(
          s"""SELECT TRANSFORM (r_regionkey, r_name)
             |USING 'cat' AS (k STRING, name STRING)
             |FROM ${v("region")}""".stripMargin)
      }.orderBy("k")
    })
}

package graft.queries

import graft._
import graft.T._
import graft.operators.Artifact
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.8 — Hive FunctionRegistry, ~230
  * names): one oracle-checked query per family — date/time, string,
  * math/bit, conditional/null, hash/crypto, URL/XML extraction — plus the
  * custom gap fills from [[HiveCompatFunctions]] (field, find_in_set,
  * sort_array_by, mask family, create_union/extract_union with a parquet
  * round-trip).
  *
  * Scale notes: everything here is a per-row projection of codegen'd
  * built-ins (or compositions of them — see HiveCompatFunctions' design
  * note); no UDFs, no shuffles beyond the final presentation sort on a
  * bounded subset.
  */
object Functions extends QueryPack {

  def defs: Seq[QueryDef] = Seq(

    // Date/time family (UDFDate*/GenericUDFDate*, §2.8): extraction,
    // arithmetic, truncation, formatting. DuckDB twins chosen for
    // identical semantics (dayofweek offset differs by 1).
    q("q_fn_datetime",
      """SELECT o_orderkey,
        |  EXTRACT(YEAR FROM o_orderdate) AS y,
        |  EXTRACT(MONTH FROM o_orderdate) AS m,
        |  EXTRACT(DAY FROM o_orderdate) AS d,
        |  EXTRACT(QUARTER FROM o_orderdate) AS q,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  CAST(last_day(o_orderdate) AS DATE) AS eom,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
        |  date_diff('day', o_orderdate, TIMESTAMP '1997-01-01 00:00:00') AS days_to_97,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt
        |FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 50)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          dayofweek(col("o_orderdate")).as("dow"),
          date_add(col("o_orderdate"), 30).as("plus30"),
          add_months(col("o_orderdate"), 2).as("plus2m"),
          last_day(col("o_orderdate")).as("eom"),
          // cast to DATE both sides: a COMPUTED naive timestamp would
          // round-trip tz-aware from Spark but tz-naive from DuckDB.
          date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
          datediff(lit("1997-01-01").cast("date"), col("o_orderdate"))
            .as("days_to_97"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt"))
        .orderBy("o_orderkey")
    },

    // Date/time registry, part 2 — the functions DuckDB lacks natively,
    // each oracled by its defining formula: months_between (Hive/Spark
    // 31-day-denominator semantics, spelled out in SQL), next_day
    // (isodow modular arithmetic), weekofyear/dayofyear (ISO in both),
    // unix_timestamp round-trip, and from_utc_timestamp with a FIXED
    // offset zone (+05:30) so the oracle is a plain interval shift —
    // named-zone DST rules are JDK-vs-ICU territory, not something a
    // bit-exact oracle should depend on.
    q("q_fn_datetime2",
      """SELECT o_orderkey,
        |  CASE WHEN day(o_orderdate) = 17
        |       THEN CAST((year(o_orderdate) - 1995) * 12
        |                 + (month(o_orderdate) - 6) AS DOUBLE)
        |       ELSE ROUND((year(o_orderdate) - 1995) * 12
        |            + (month(o_orderdate) - 6)
        |            + (day(o_orderdate) - 17) / 31.0, 8) + 0.0 END AS mb,
        |  CAST(o_orderdate AS DATE)
        |       + CAST(((7 - isodow(o_orderdate)) % 7) + 1 AS INTEGER)
        |    AS next_monday,
        |  weekofyear(o_orderdate) AS woy,
        |  dayofyear(o_orderdate) AS doy,
        |  CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS unix_s,
        |  strftime(to_timestamp(epoch(CAST(o_orderdate AS TIMESTAMP))),
        |           '%Y-%m-%d %H:%M:%S') AS from_unix,
        |  strftime(CAST(o_orderdate AS TIMESTAMP)
        |           + INTERVAL 5 HOUR + INTERVAL 30 MINUTE,
        |           '%Y-%m-%d %H:%M') AS ist_wall
        |FROM orders WHERE o_orderkey < 50
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 50)
        .select(col("o_orderkey"),
          months_between(col("o_orderdate"),
            lit("1995-06-17").cast("date")).as("mb"),
          next_day(col("o_orderdate"), "Monday").as("next_monday"),
          weekofyear(col("o_orderdate")).as("woy"),
          dayofyear(col("o_orderdate")).as("doy"),
          unix_timestamp(col("o_orderdate").cast("timestamp")).as("unix_s"),
          from_unixtime(
            unix_timestamp(col("o_orderdate").cast("timestamp")))
            .as("from_unix"),
          date_format(from_utc_timestamp(
            col("o_orderdate").cast("timestamp"), "+05:30"),
            "yyyy-MM-dd HH:mm").as("ist_wall"))
        .orderBy("o_orderkey")
    },

    // String family: case, pad, trim, search, slice, edit distance.
    q("q_fn_string",
      """SELECT c_custkey,
        |  upper(c_name) AS up, lower(c_mktsegment) AS lo,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS pad,
        |  substring(c_name, 1, 8) AS sub,
        |  strpos(c_name, '#') AS pos,
        |  replace(c_name, 'Customer', 'Cust') AS repl,
        |  reverse(c_mktsegment) AS rev,
        |  repeat('ab', 3) AS rep,
        |  ascii(c_mktsegment) AS asc_c,
        |  chr(CAST(65 + c_custkey % 26 AS INTEGER)) AS chr_c,
        |  levenshtein(c_mktsegment, 'BUILDING') AS lev,
        |  split_part(c_name, '#', 2) AS tail_part,
        |  concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS cw,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
        |  left(c_name, 4) AS l4, right(c_name, 3) AS r3
        |FROM customer WHERE c_custkey < 30 ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") < 30)
        .select(col("c_custkey"),
          upper(col("c_name")).as("up"), lower(col("c_mktsegment")).as("lo"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("pad"),
          substring(col("c_name"), 1, 8).as("sub"),
          instr(col("c_name"), "#").as("pos"),
          regexp_replace(col("c_name"), "Customer", "Cust").as("repl"),
          reverse(col("c_mktsegment")).as("rev"),
          lit("ab" * 3).as("rep"),
          ascii(col("c_mktsegment")).as("asc_c"),
          chr(lit(65) + col("c_custkey") % 26).as("chr_c"),
          levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"),
          substring_index(col("c_name"), "#", -1).as("tail_part"),
          concat_ws("-", col("c_mktsegment"), col("c_custkey").cast("string"))
            .as("cw"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("tr"),
          expr("left(c_name, 4)").as("l4"), expr("right(c_name, 3)").as("r3"))
        .orderBy("c_custkey")
    },

    // String registry, part 2 — functions DuckDB lacks natively, each
    // oracled by its defining formula on this data: initcap (single-
    // word inputs ⇒ upper-first+lower-rest twin), format_number
    // (thousands grouping via fmt '{:,.2f}'), printf/format_string.
    // `soundex` has no SQL-expressible twin — pinned to known codes in
    // RegistrySpec instead.
    q("q_fn_string2",
      """SELECT c_custkey,
        |  upper(substring(c_mktsegment, 1, 1))
        |    || lower(substring(c_mktsegment, 2)) AS seg_cap,
        |  CASE WHEN c_acctbal < 0 THEN '-' ELSE '' END
        |    || format('{:,}', CAST(split_part(
        |         printf('%.2f', abs(c_acctbal)), '.', 1) AS BIGINT))
        |    || '.' || split_part(printf('%.2f', abs(c_acctbal)), '.', 2)
        |    AS bal_fmt,
        |  printf('%05d|%s', CAST(c_custkey AS INTEGER), c_mktsegment)
        |    AS tagged
        |FROM customer WHERE c_custkey < 30
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") < 30)
        .select(col("c_custkey"),
          initcap(col("c_mktsegment")).as("seg_cap"),
          format_number(col("c_acctbal"), 2).as("bal_fmt"),
          format_string("%05d|%s", col("c_custkey"), col("c_mktsegment"))
            .as("tagged"))
        .orderBy("c_custkey")
    },

    // Math + bit-op family (UDFOPBit*, shiftleft/right — §2.8).
    q("q_fn_math",
      """SELECT l_orderkey, l_linenumber,
        |  abs(-l_quantity) AS ab,
        |  CAST(ceil(l_discount * 10) AS BIGINT) AS ce,
        |  CAST(floor(l_tax * 10) AS BIGINT) AS fl,
        |  ROUND(power(l_quantity, 2), 4) AS pw,
        |  ROUND(sqrt(l_quantity), 6) AS sq,
        |  ROUND(exp(l_discount), 6) AS ex,
        |  ROUND(ln(l_quantity + 1), 6) AS lg,
        |  ROUND(log10(l_quantity + 1), 6) AS l10,
        |  CAST(sign(l_quantity - 25) AS DOUBLE) AS sg,
        |  ((l_orderkey % 7) + 7) % 7 AS pm,
        |  l_orderkey & 15 AS ba, l_orderkey | 16 AS bo,
        |  xor(l_orderkey, 5) AS bx, l_linenumber << 3 AS shl,
        |  greatest(l_quantity, 25.0) AS gr, least(l_quantity, 25.0) AS ls
        |FROM lineitem WHERE l_orderkey < 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(-col("l_quantity")).as("ab"),
          ceil(col("l_discount") * 10).as("ce"),
          floor(col("l_tax") * 10).as("fl"),
          round(pow(col("l_quantity"), 2), 4).as("pw"),
          round(sqrt(col("l_quantity")), 6).as("sq"),
          round(exp(col("l_discount")), 6).as("ex"),
          round(log(col("l_quantity") + 1), 6).as("lg"),
          round(log10(col("l_quantity") + 1), 6).as("l10"),
          signum(col("l_quantity") - 25).as("sg"),
          pmod(col("l_orderkey"), lit(7)).as("pm"),
          col("l_orderkey").bitwiseAND(15).as("ba"),
          col("l_orderkey").bitwiseOR(16).as("bo"),
          col("l_orderkey").bitwiseXOR(5).as("bx"),
          shiftleft(col("l_linenumber"), 3).as("shl"),
          greatest(col("l_quantity"), lit(25.0)).as("gr"),
          least(col("l_quantity"), lit(25.0)).as("ls"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Math registry, part 2 — trig (round 6: libm last-ulp drift, e.g.
    // DuckDB cbrt(27) = 3.0000000000000004), HALF-EVEN bround on real
    // .5 ties (integer quantities / 2), factorial, base conversion
    // (conv ≡ to_base), log2, and right shifts (srl ≡ sra on the
    // non-negative keys here; Hive's shiftrightunsigned differs only
    // below zero).
    q("q_fn_math2",
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(sin(l_quantity), 6) AS sn,
        |  ROUND(cos(l_quantity), 6) + 0.0 AS cs,
        |  ROUND(tan(l_discount), 6) AS tn,
        |  ROUND(asin(l_discount), 6) AS asn,
        |  ROUND(acos(l_discount), 6) AS acs,
        |  ROUND(atan2(l_quantity, 7.0), 6) AS at2,
        |  ROUND(cbrt(l_quantity), 6) AS cb,
        |  round_even(l_quantity / 2, 0) + 0.0 AS br,
        |  CAST(factorial(CAST(l_linenumber AS INTEGER)) AS BIGINT) AS fact,
        |  to_base(l_orderkey, 16) AS hx16,
        |  ROUND(log2(l_quantity + 1), 6) AS l2,
        |  ROUND(degrees(radians(l_quantity)), 6) AS dg,
        |  l_orderkey >> 2 AS srl
        |FROM lineitem WHERE l_orderkey < 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sin(col("l_quantity")), 6).as("sn"),
          (round(cos(col("l_quantity")), 6) + 0.0).as("cs"),
          round(tan(col("l_discount")), 6).as("tn"),
          round(asin(col("l_discount")), 6).as("asn"),
          round(acos(col("l_discount")), 6).as("acs"),
          round(atan2(col("l_quantity"), lit(7.0)), 6).as("at2"),
          round(cbrt(col("l_quantity")), 6).as("cb"),
          (bround(col("l_quantity") / 2, 0) + 0.0).as("br"),
          expr("factorial(cast(l_linenumber as int))").as("fact"),
          conv(col("l_orderkey"), 10, 16).as("hx16"),
          round(log2(col("l_quantity") + 1), 6).as("l2"),
          round(degrees(radians(col("l_quantity"))), 6).as("dg"),
          shiftrightunsigned(col("l_orderkey"), 2).as("srl"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Conditional / null family: if, nvl, nullif, coalesce, case,
    // between, in, isnull.
    q("q_fn_conditional",
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'DEFAULTED') AS seg,
        |  CASE WHEN c_acctbal BETWEEN 0 AND 1000 THEN 1 ELSE 0 END AS in_band,
        |  CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') THEN 1
        |       ELSE 0 END AS in_set,
        |  CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NULL THEN 1
        |       ELSE 0 END AS was_null,
        |  IF(c_acctbal > 0, 'credit', 'debit') AS side
        |FROM customer WHERE c_custkey < 40 ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") < 40)
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid").otherwise("high").as("band"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
            lit("DEFAULTED")).as("seg"),
          col("c_acctbal").between(0, 1000).cast("int").as("in_band"),
          col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY").cast("int")
            .as("in_set"),
          nullif(col("c_mktsegment"), lit("BUILDING")).isNull.cast("int")
            .as("was_null"),
          when(col("c_acctbal") > 0, "credit").otherwise("debit").as("side"))
        .orderBy("c_custkey")
    },

    // Hash/crypto family: md5 / sha2-256 (UDFMd5/GenericUDFSha2). Spark
    // also has sha1/crc32/aes_* but DuckDB can't oracle them; Hive's own
    // `hash` is ObjectInspector-specific — not ported (documented SURVEY
    // §2.8 decision: don't chase bit-parity of an internal hash).
    q("q_fn_hash",
      """SELECT r_regionkey,
        |  md5(r_name) AS h_md5,
        |  sha256(r_name) AS h_sha256,
        |  md5(CAST(r_regionkey AS VARCHAR)) AS h_md5_num
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir, "region")
        .select(col("r_regionkey"),
          md5(col("r_name")).as("h_md5"),
          sha2(col("r_name"), 256).as("h_sha256"),
          md5(col("r_regionkey").cast("string")).as("h_md5_num"))
        .orderBy("r_regionkey")
    },

    // Masking family (GenericUDFMask* — data-redaction): upper→X,
    // lower→x, digit→n, with first/last-n variants. DuckDB twin needs
    // the 'g' flag (its regexp_replace is first-match by default).
    q("q_fn_mask",
      """SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(c_name,
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS m_all,
        |  regexp_replace(regexp_replace(regexp_replace(substring(c_name, 1, 4),
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |    || substring(c_name, 5) AS m_first4,
        |  substring(c_name, 1, length(c_name) - 4)
        |    || regexp_replace(regexp_replace(regexp_replace(
        |         substring(c_name, length(c_name) - 3, 4),
        |         '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |    AS m_last4,
        |  md5(c_name) AS m_hash
        |FROM customer WHERE c_custkey < 20 ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") < 20)
        .select(col("c_custkey"),
          HiveCompatFunctions.mask(col("c_name")).as("m_all"),
          HiveCompatFunctions.maskFirstN(col("c_name"), 4).as("m_first4"),
          HiveCompatFunctions.maskLastN(col("c_name"), 4).as("m_last4"),
          HiveCompatFunctions.maskHash(col("c_name")).as("m_hash"))
        .orderBy("c_custkey")
    },

    // field / find_in_set / sort_array_by — the §2.8 registry gaps filled
    // by HiveCompatFunctions combinators. sort_array_by output serialized
    // via array_join (comparator can't sort array cells).
    q("q_fn_field",
      """SELECT r_regionkey,
        |  COALESCE(list_position(['ASIA', 'EUROPE', 'AFRICA'], r_name), 0) AS fld,
        |  COALESCE(list_position(string_split('ASIA,EUROPE,AMERICA', ','),
        |    r_name), 0) AS fis,
        |  array_to_string(list_transform(list_sort(
        |    [{'k': (r_regionkey * 3) % 5, 'v': r_name},
        |     {'k': (r_regionkey * 3 + 1) % 5, 'v': lower(r_name)}]),
        |    x -> x.v), '|') AS sorted_names
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      // Distinct sort keys by construction (k, k+1 mod 5): the oracle's
      // list_sort falls back to the next struct field on ties, which
      // array_sort's comparator does not — avoid the ambiguity entirely.
      t(s, dir, "region")
        .withColumn("arr", array(
          struct((col("r_regionkey") * 3 % 5).as("k"), col("r_name").as("v")),
          struct(((col("r_regionkey") * 3 + 1) % 5).as("k"),
            lower(col("r_name")).as("v"))))
        .select(col("r_regionkey"),
          HiveCompatFunctions.field(col("r_name"),
            lit("ASIA"), lit("EUROPE"), lit("AFRICA")).as("fld"),
          HiveCompatFunctions.findInSet(col("r_name"),
            lit("ASIA,EUROPE,AMERICA")).as("fis"),
          array_join(transform(
            HiveCompatFunctions.sortArrayBy(col("arr"), "k"),
            e => e("v")), "|").as("sorted_names"))
        .orderBy("r_regionkey")
    },

    // UNIONTYPE round-trip (§1.2's one unmappable type): create_union →
    // parquet write → read → extract. The write is idempotent (overwrite
    // into the JVM temp dir) and tiny; it proves the tagged-struct
    // encoding survives the storage format.
    q("q_fn_union_type",
      """SELECT r_regionkey, tag,
        |  CASE WHEN tag = 0 THEN r_name END AS field0,
        |  CASE WHEN tag = 1 THEN r_regionkey * 100 END AS field1
        |FROM (SELECT r_regionkey, r_name,
        |        CAST(r_regionkey % 2 AS TINYINT) AS tag FROM region)
        |ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      // UNIONTYPE lives in Hive's ORC and Avro pipelines as much as in
      // parquet (serde2/typeinfo/UnionTypeInfo — round-10 widening): the
      // same union column round-trips through ALL THREE formats and the
      // result is the strict 3-way intersection (count = 3 per row), so
      // any format mangling a tag or branch breaks the oracle hash.
      // Parquet/ORC carry the (tag, field0, field1) struct natively;
      // the Avro leg stores the exploded view as a flat record (the
      // UnionObjectInspector encoding) through the RDD-layer AvroIO
      // bridge and rebuilds the struct on read.
      val base = t(s, dir, "region")
        .select(col("r_regionkey"),
          HiveCompatFunctions.createUnion(col("r_regionkey") % 2,
            col("r_name"), col("r_regionkey") * 100).as("u"))
      val tmpBase = System.getProperty("java.io.tmpdir") + "/graft_union_rt_"
      val legs = Seq("parquet", "orc", "avro").map { fmt =>
        val p = tmpBase + fmt
        val rt = fmt match {
          case "parquet" =>
            base.write.mode("overwrite").parquet(p); s.read.parquet(p)
          case "orc" =>
            base.write.mode("overwrite").orc(p); s.read.orc(p)
          case "avro" =>
            val flat = base.select(col("r_regionkey"),
              col("u.tag").cast("int").as("tag"), col("u.field0"),
              col("u.field1"))
            val fs = org.apache.hadoop.fs.FileSystem.get(
              s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(p), true)
            graft.AvroIO.write(flat, p)
            graft.AvroIO.read(s, p, flat.schema)
              .select(col("r_regionkey"),
                struct(col("tag").cast("tinyint").as("tag"),
                  col("field0"), col("field1")).as("u"))
        }
        rt.select(col("r_regionkey"),
            HiveCompatFunctions.extractUnion(col("u")).as("u"))
          .select(col("r_regionkey"), col("u.tag").as("tag"),
            col("u.field0").as("field0"), col("u.field1").as("field1"))
      }
      legs.reduce(_.unionAll(_))
        .groupBy("r_regionkey", "tag", "field0", "field1")
        .agg(count(lit(1)).as("n_fmt"))
        .filter(col("n_fmt") === 3)
        .drop("n_fmt")
        .orderBy("r_regionkey")
    },

    // Misc registry remainder (§2.8): elt, space, factorial,
    // char_length vs octet_length (multibyte!), locate/position, and
    // reflect/java_method (GenericUDFReflect — static-method dispatch;
    // both always render the result as a string). The oracle computes
    // the reflected values directly: Integer.toHexString = minimal
    // lowercase hex = printf('%x'), Math.max = GREATEST.
    q("q_fn_misc",
      """SELECT r_regionkey,
        |  (['alpha', 'beta', 'gamma'])[CAST(r_regionkey % 3 + 1 AS INT)] AS elt_v,
        |  repeat(' ', CAST(r_regionkey AS INT)) || '|' AS sp,
        |  CAST(factorial(CAST(r_regionkey + 1 AS INT)) AS BIGINT) AS fact,
        |  length(r_name || 'é') AS n_chars,
        |  octet_length(encode(r_name || 'é')) AS n_bytes,
        |  strpos(r_name, 'A') AS loc,
        |  printf('%x', r_regionkey + 255) AS refl_hex,
        |  CAST(GREATEST(r_regionkey, 2) AS VARCHAR) AS jm_max
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir, "region")
        .select(col("r_regionkey"),
          element_at(array(lit("alpha"), lit("beta"), lit("gamma")),
            (col("r_regionkey") % 3 + 1).cast("int")).as("elt_v"),
          concat(expr("space(CAST(r_regionkey AS INT))"), lit("|")).as("sp"),
          factorial((col("r_regionkey") + 1).cast("int")).as("fact"),
          length(concat(col("r_name"), lit("é"))).as("n_chars"),
          octet_length(concat(col("r_name"), lit("é"))).as("n_bytes"),
          locate("A", col("r_name")).as("loc"),
          expr("reflect('java.lang.Integer', 'toHexString'," +
            " CAST(r_regionkey + 255 AS INT))").as("refl_hex"),
          expr("java_method('java.lang.Math', 'max'," +
            " CAST(r_regionkey AS BIGINT), CAST(2 AS BIGINT))").as("jm_max"))
        .orderBy("r_regionkey")
    },

    // Encoding family (§2.8: bin / hex / unhex / base64 / unbase64).
    q("q_fn_encoding",
      """SELECT r_regionkey,
        |  bin(r_regionkey + 40) AS b,
        |  hex(r_regionkey * 1000) AS hx,
        |  hex(r_name) AS hs,
        |  to_base64(r_name::BLOB) AS b64,
        |  from_base64(to_base64(r_name::BLOB))::VARCHAR AS rt
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir, "region")
        .select(col("r_regionkey"),
          bin(col("r_regionkey") + 40).as("b"),
          hex(col("r_regionkey") * 1000).as("hx"),
          hex(col("r_name")).as("hs"),
          base64(col("r_name").cast("binary")).as("b64"),
          unbase64(base64(col("r_name").cast("binary"))).cast("string")
            .as("rt"))
        .orderBy("r_regionkey")
    },

    // Interval types (§1.2: YearMonthIntervalType / DayTimeIntervalType —
    // GenericUDFToIntervalYearMonth/DayTime): interval arithmetic on
    // timestamps, results normalized to dates/strings for the oracle.
    q("q_fn_interval",
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL '1 year 2 months' AS DATE) AS plus_ym,
        |  CAST(o_orderdate - INTERVAL '1 year 2 months' AS DATE) AS minus_ym,
        |  strftime(o_orderdate + INTERVAL '3 days 4 hours 5 minutes',
        |           '%Y-%m-%d %H:%M') AS plus_dt
        |FROM orders WHERE o_orderkey < 40 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 40)
        .select(col("o_orderkey"),
          expr("CAST(o_orderdate + INTERVAL '1-2' YEAR TO MONTH AS DATE)")
            .as("plus_ym"),
          expr("CAST(o_orderdate - INTERVAL '1-2' YEAR TO MONTH AS DATE)")
            .as("minus_ym"),
          date_format(
            expr("o_orderdate + INTERVAL '3 04:05' DAY TO MINUTE"),
            "yyyy-MM-dd HH:mm").as("plus_dt"))
        .orderBy("o_orderkey")
    },

    // TIMESTAMP_NTZ (round 13 — Spark 4's timezone-naive timestamp,
    // the engine surface DuckDB timestamps natively ARE, so the oracle
    // is the SAME naive semantics with no session-timezone coupling;
    // beyond the reference: Hive's TIMESTAMP is implicitly naive but
    // has no separate NTZ/LTZ types, [jar]
    // serde2/typeinfo/TimestampLocalTZTypeInfo.class is the only
    // distinction it draws). Arithmetic, truncation and integer
    // diffing all happen IN the NTZ domain; outputs leave as formatted
    // strings + exact ints (the computed-timestamp repr gotcha).
    q("q_fn_timestamp_ntz",
      """SELECT o_orderkey,
        |  strftime(o_orderdate + (o_orderkey % 24) * INTERVAL 1 HOUR,
        |    '%Y-%m-%d %H:%M:%S') AS shifted,
        |  strftime(date_trunc('day',
        |    o_orderdate + (o_orderkey % 24) * INTERVAL 1 HOUR),
        |    '%Y-%m-%d %H:%M:%S') AS day_floor,
        |  CAST(datediff('hour', TIMESTAMP '1995-01-01 00:00:00',
        |    o_orderdate + (o_orderkey % 24) * INTERVAL 1 HOUR)
        |    AS BIGINT) AS hours_since
        |FROM orders WHERE o_orderkey % 500 = 1
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(pmod(col("o_orderkey"), lit(500)) === 1)
        .select(col("o_orderkey"),
          expr("CAST(o_orderdate AS TIMESTAMP_NTZ)" +
            " + make_interval(0, 0, 0, 0, CAST(o_orderkey % 24 AS INT)," +
            " 0, 0)").as("nt"))
        .select(col("o_orderkey"),
          date_format(col("nt"), "yyyy-MM-dd HH:mm:ss").as("shifted"),
          date_format(date_trunc("day", col("nt")),
            "yyyy-MM-dd HH:mm:ss").as("day_floor"),
          expr("CAST(timestampdiff(HOUR," +
            " TIMESTAMP_NTZ '1995-01-01 00:00:00', nt) AS BIGINT)")
            .as("hours_since"))
        .orderBy("o_orderkey")
    },

    // Spark-4 misc scalar additions (round 13): luhn_check (payment-id
    // validation — the oracle REPLAYS the Luhn algorithm digit by
    // digit in SQL, so the builtin is checked against the spec, not
    // trusted), levenshtein with an early-exit THRESHOLD (returns -1
    // past the cap — the banded-DP shape the fuzzy-linkage operator
    // documents; oracle = unbounded distance + CASE), and
    // try_validate_utf8 (ingest-guard twin of the CSV quarantine —
    // clean strings pass through, here proven on the whole column).
    q("q_fn_spark4_misc",
      """WITH s AS (SELECT p_partkey,
        |    lpad(CAST(p_partkey * 7919 % 100000000 AS VARCHAR), 8, '0')
        |      AS num,
        |    p_name, p_type
        |  FROM part WHERE p_partkey < 300)
        |SELECT p_partkey,
        |  list_sum(list_transform(range(1, len(num) + 1), i ->
        |    CASE WHEN i % 2 = 0
        |      THEN CASE WHEN 2 * CAST(substr(num, len(num) + 1 - i, 1)
        |                          AS INT) > 9
        |                THEN 2 * CAST(substr(num, len(num) + 1 - i, 1)
        |                          AS INT) - 9
        |                ELSE 2 * CAST(substr(num, len(num) + 1 - i, 1)
        |                          AS INT) END
        |      ELSE CAST(substr(num, len(num) + 1 - i, 1) AS INT)
        |    END)) % 10 = 0 AS luhn_ok,
        |  CASE WHEN levenshtein(p_name, p_type) <= 5
        |       THEN levenshtein(p_name, p_type) ELSE -1
        |  END AS lev_capped,
        |  (p_name = p_name) AND p_name IS NOT NULL AS utf8_ok
        |FROM s ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          lpad((col("p_partkey") * 7919 % 100000000).cast("string"),
            8, "0").as("num"),
          col("p_name"), col("p_type"))
        .select(col("p_partkey"),
          expr("luhn_check(num)").as("luhn_ok"),
          expr("levenshtein(p_name, p_type, 5)").as("lev_capped"),
          expr("try_validate_utf8(p_name) IS NOT NULL").as("utf8_ok"))
        .orderBy("p_partkey")
    },

    // CHAR(n)/VARCHAR(n) semantics (§1.2: CharTypeInfo/VarcharTypeInfo).
    // Spark enforces these at TABLE boundaries, not on cast: writing into
    // a CHAR(12) column pads to 12 (read-side padding on by default).
    // Delta vs Hive, documented: Hive silently truncates VARCHAR
    // overflow; Spark rejects it — so the overflow is truncated before
    // insert.
    q("q_fn_char_varchar",
      """SELECT r_regionkey,
        |  rpad(r_name, 12, ' ') AS as_char,
        |  length(rpad(r_name, 12, ' ')) AS char_len,
        |  substring(r_name, 1, 4) AS as_varchar
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      val tbl = Artifact.table(s, "charvarchar", dir, "region") { tbl =>
        s.sql(s"CREATE TABLE $tbl (r_regionkey BIGINT, as_char CHAR(12)," +
          " as_varchar VARCHAR(4)) USING parquet")
        t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"),
            substring(col("r_name"), 1, 4))
          .write.insertInto(tbl)
      }
      s.table(tbl)
        .select(col("r_regionkey"), col("as_char"),
          length(col("as_char")).as("char_len"), col("as_varchar"))
        .orderBy("r_regionkey")
    },

    // URL + XML extraction (GenericUDFParseUrl, UDFXPath* — §2.8) over
    // synthesized url/xml columns; DuckDB twins are regexp extractions.
    q("q_fn_url_xml",
      """SELECT r_regionkey,
        |  'http' AS proto,
        |  'example.com' AS host,
        |  '/r/' || replace(r_name, ' ', '_') AS path,
        |  CAST(r_regionkey AS VARCHAR) AS qval,
        |  r_name AS xval,
        |  r_regionkey * 10 AS xnum,
        |  CAST(r_regionkey % 2 = 0 AS BOOLEAN) AS xbool
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      // URL-safe path segment (Spark 4's parse_url rejects raw spaces).
      t(s, dir, "region")
        .withColumn("url", concat(lit("http://example.com/r/"),
          regexp_replace(col("r_name"), " ", "_"),
          lit("?k="), col("r_regionkey").cast("string")))
        .withColumn("xml", concat(
          lit("<r><n>"), col("r_name"), lit("</n><v>"),
          col("r_regionkey") * 10, lit("</v><b>"),
          (col("r_regionkey") % 2 === 0).cast("string"), lit("</b></r>")))
        .select(col("r_regionkey"),
          parse_url(col("url"), lit("PROTOCOL")).as("proto"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("k")).as("qval"),
          xpath_string(col("xml"), lit("/r/n")).as("xval"),
          expr("xpath_long(xml, '/r/v')").as("xnum"),
          expr("xpath_boolean(xml, '/r/b[.=\"true\"]')").as("xbool"))
        .orderBy("r_regionkey")
    },

    // HIGHER-ORDER array functions — the lambda surface (Hive's brickhouse
    // -style collection UDFs; Spark SQL transform/filter/aggregate/exists/
    // forall/zip_with, all codegen-friendly expressions, no UDF): per-order
    // sorted quantity arrays (ints — exact, no float rendering to drift),
    // mapped, filtered, folded, quantified, and zipped against their own
    // reversal. Lambdas evaluate per row inside the projection — zero extra
    // shuffles beyond the one groupBy; array results serialize through
    // concat_ws for the engine-neutral comparator. DuckDB twins:
    // list_transform/list_filter/list_sum and 1-based arr[i] indexing for
    // the zip.
    q("q_fn_array_hof",
      """WITH a AS (
        |  SELECT l_orderkey AS okey,
        |    list_sort(list(CAST(l_quantity AS INT))) AS arr
        |  FROM lineitem GROUP BY 1),
        |b AS (SELECT okey, arr FROM a WHERE len(arr) = 7 AND okey % 10 = 0)
        |SELECT okey,
        |  array_to_string(list_transform(arr, x -> x * 2), ',') AS doubled,
        |  CAST(len(list_filter(arr, x -> x % 2 = 0)) AS INT) AS n_even,
        |  CAST(list_sum(arr) AS INT) AS total,
        |  CAST(len(list_filter(arr, x -> x >= 49)) > 0 AS BOOLEAN) AS has_big,
        |  CAST(len(list_filter(arr, x -> x <= 0)) = 0 AS BOOLEAN) AS all_pos,
        |  array_to_string(list_transform(range(1, len(arr) + 1),
        |    i -> arr[i] + arr[len(arr) - i + 1]), ',') AS palin_sum
        |FROM b ORDER BY okey""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("int")))
          .as("arr"))
        .filter(size(col("arr")) === 7 && col("okey") % 10 === 0)
        .select(col("okey"),
          concat_ws(",", expr("transform(arr, x -> x * 2)")).as("doubled"),
          expr("size(filter(arr, x -> x % 2 = 0))").as("n_even"),
          expr("aggregate(arr, 0, (a, x) -> a + x)").as("total"),
          expr("exists(arr, x -> x >= 49)").as("has_big"),
          expr("forall(arr, x -> x > 0)").as("all_pos"),
          concat_ws(",",
            expr("zip_with(arr, reverse(arr), (a, b) -> a + b)"))
            .as("palin_sum"))
        .orderBy("okey")
    })
}

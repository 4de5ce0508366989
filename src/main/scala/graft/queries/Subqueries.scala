package graft.queries

import graft._
import graft.T._
import org.apache.spark.sql.functions._

/** Subquery surface (SURVEY.md §4.1 CBO layer: HiveSubQueryRemoveRule —
  * IN / EXISTS / correlated-scalar subqueries decorrelated into joins,
  * with `sq_count_check` guarding scalar cardinality). Catalyst's
  * RewriteCorrelatedScalarSubquery / RewritePredicateSubquery are the
  * twins; these queries prove the decorrelation produces oracle-correct
  * results, including the NULL-semantics trap of NOT IN.
  *
  * Scale notes: every subquery here decorrelates to a shuffle or
  * broadcast join — no per-row re-execution (check: the plans contain
  * joins, never a subquery node under a filter).
  */
object Subqueries extends QueryPack {

  def defs: Seq[QueryDef] = Seq(

    // Correlated SCALAR subquery in the projection → left outer join +
    // aggregate (sq_count_check semantics: at most one row per key).
    q("q_subq_scalar",
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
        |    AS n_orders,
        |  (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c WHERE c_custkey < 40
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      scoped(s, "customer" -> t(s, dir, "customer"), "orders" -> t(s, dir, "orders")) { v =>
        s.sql(
          s"""SELECT c_custkey,
             |  (SELECT COUNT(*) FROM ${v("orders")} o
             |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
             |  (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM ${v("orders")} o
             |   WHERE o.o_custkey = c.c_custkey) AS max_price
             |FROM ${v("customer")} c WHERE c_custkey < 40
             |ORDER BY c_custkey""".stripMargin)
      }
    },

    // IN subquery → left semi join.
    q("q_subq_in",
      """SELECT c_mktsegment, COUNT(*) AS cnt
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      scoped(s, "customer" -> t(s, dir, "customer"), "orders" -> t(s, dir, "orders")) { v =>
        s.sql(
          s"""SELECT c_mktsegment, COUNT(*) AS cnt
             |FROM ${v("customer")}
             |WHERE c_custkey IN (SELECT o_custkey FROM ${v("orders")}
             |                    WHERE o_totalprice > 400000)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      }
    },

    // NOT IN with a NULLABLE inner side — the classic three-valued-logic
    // trap (one inner NULL empties the result unless handled): inner
    // side made null-free by predicate, outer NULLs produced via NULLIF
    // to prove the semantics on the outer side too.
    q("q_subq_not_in",
      """SELECT COUNT(*) AS cnt,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM (SELECT NULLIF(c_custkey, 7) AS k, c_custkey FROM customer)
        |WHERE k NOT IN (SELECT o_custkey FROM orders
        |                WHERE o_totalprice > 450000
        |                  AND o_custkey IS NOT NULL)""".stripMargin) { (s, dir) =>
      scoped(s, "customer" -> t(s, dir, "customer"), "orders" -> t(s, dir, "orders")) { v =>
        s.sql(
          s"""SELECT COUNT(*) AS cnt,
             |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
             |FROM (SELECT NULLIF(c_custkey, 7) AS k, c_custkey
             |      FROM ${v("customer")})
             |WHERE k NOT IN (SELECT o_custkey FROM ${v("orders")}
             |                WHERE o_totalprice > 450000
             |                  AND o_custkey IS NOT NULL)""".stripMargin)
      }
    },

    // Correlated EXISTS with an extra correlated predicate.
    q("q_subq_exists_corr",
      """SELECT s_nationkey, COUNT(*) AS cnt
        |FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_nationkey = s.s_nationkey
        |                AND c.c_acctbal > s.s_acctbal)
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      scoped(s, "customer" -> t(s, dir, "customer"), "supplier" -> t(s, dir, "supplier")) { v =>
        s.sql(
          s"""SELECT s_nationkey, COUNT(*) AS cnt
             |FROM ${v("supplier")} s
             |WHERE EXISTS (SELECT 1 FROM ${v("customer")} c
             |              WHERE c.c_nationkey = s.s_nationkey
             |                AND c.c_acctbal > s.s_acctbal)
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
      }
    },

    // UNIQUE JOIN (HiveQL extension, JoinDesc.UNIQUE_JOIN): multiway
    // full-outer-style join preserving unmatched rows from EVERY input —
    // composed from full_outer joins (SURVEY §2.3's prescribed mapping).
    q("q_join_unique",
      """WITH a AS (SELECT c_nationkey AS k, COUNT(*) AS a_cnt
        |           FROM customer WHERE c_acctbal < -500 GROUP BY 1),
        |     b AS (SELECT s_nationkey AS k, COUNT(*) AS b_cnt
        |           FROM supplier WHERE s_acctbal > 7000 GROUP BY 1),
        |     c AS (SELECT n_nationkey AS k, COUNT(*) AS c_cnt
        |           FROM nation WHERE n_regionkey < 2 GROUP BY 1)
        |SELECT COALESCE(a.k, b.k, c.k) AS k,
        |  COALESCE(a_cnt, 0) AS a_cnt, COALESCE(b_cnt, 0) AS b_cnt,
        |  COALESCE(c_cnt, 0) AS c_cnt
        |FROM a FULL JOIN b ON a.k = b.k
        |       FULL JOIN c ON COALESCE(a.k, b.k) = c.k
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_acctbal") < -500)
        .groupBy(col("c_nationkey").as("ak")).agg(count(lit(1)).as("a_cnt"))
      val b = t(s, dir, "supplier").filter(col("s_acctbal") > 7000)
        .groupBy(col("s_nationkey").as("bk")).agg(count(lit(1)).as("b_cnt"))
      val c = t(s, dir, "nation").filter(col("n_regionkey") < 2)
        .groupBy(col("n_nationkey").as("ck")).agg(count(lit(1)).as("c_cnt"))
      a.join(b, col("ak") === col("bk"), "full_outer")
        .join(c, coalesce(col("ak"), col("bk")) === col("ck"), "full_outer")
        .select(coalesce(col("ak"), col("bk"), col("ck")).as("k"),
          coalesce(col("a_cnt"), lit(0L)).as("a_cnt"),
          coalesce(col("b_cnt"), lit(0L)).as("b_cnt"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt"))
        .orderBy("k")
    },

    // RECURSIVE CTE (beyond reference — Hive has no WITH RECURSIVE;
    // Spark 4 executes it natively as an iterative UnionLoop, DuckDB
    // replays it verbatim): transitive-closure walk of a deterministic
    // supplier hierarchy (parent(k) = k div 3, a forest rooted at key
    // 0 — every key reaches the root by repeated division, so the walk
    // enumerates each supplier exactly once at depth =
    // ceil(log3(key))). Each level is one join of the frontier against
    // the child relation — at 100 TB the frontier join shuffles
    // per-level like any iterative graph step (the same shape as
    // ConnectedComponents' relational rounds), with depth log3(n)
    // bounded. Output: per-depth node counts, exact-decimal balance
    // rollup, key checksum.
    q("q_recursive_chain",
      """WITH RECURSIVE chain AS (
        |  SELECT s_suppkey AS node, 0 AS depth, s_acctbal AS bal
        |  FROM supplier WHERE s_suppkey = 0
        |  UNION ALL
        |  SELECT s.s_suppkey, c.depth + 1, s.s_acctbal
        |  FROM supplier s JOIN chain c ON s.s_suppkey // 3 = c.node
        |  WHERE s.s_suppkey <> c.node)
        |SELECT depth, COUNT(*) AS n_nodes,
        |  CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS bal_total,
        |  CAST(SUM(node) AS BIGINT) AS key_checksum
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin) { (s, dir) =>
      scoped(s, "supplier" -> t(s, dir, "supplier")) { v =>
        s.sql(
          s"""WITH RECURSIVE chain AS (
             |  SELECT s_suppkey AS node, 0 AS depth, s_acctbal AS bal
             |  FROM ${v("supplier")} WHERE s_suppkey = 0
             |  UNION ALL
             |  SELECT s.s_suppkey, c.depth + 1, s.s_acctbal
             |  FROM ${v("supplier")} s JOIN chain c ON s.s_suppkey DIV 3 = c.node
             |  WHERE s.s_suppkey <> c.node)
             |SELECT depth, COUNT(*) AS n_nodes,
             |  CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS bal_total,
             |  CAST(SUM(node) AS BIGINT) AS key_checksum
             |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
      }
    },

    // SQL PIPE syntax (beyond reference — Spark 4's |> operator
    // chain; Hive has nothing comparable): the same logical plan a
    // nested SELECT produces, written as a linear FROM |> WHERE |>
    // EXTEND |> AGGREGATE ... GROUP BY |> ORDER BY flow. EXTEND
    // demonstrates computed-column injection mid-pipe with pure
    // integer math (no float-repr risk); the oracle is the standard
    // ANSI equivalent, so the check proves the pipe chain compiles to
    // the identical relational semantics.
    q("q_pipe_syntax",
      """SELECT o_orderstatus, o_orderkey % 7 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS price_total
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_orderstatus, bucket
        |ORDER BY o_orderstatus, bucket""".stripMargin) { (s, dir) =>
      scoped(s, "orders" -> t(s, dir, "orders")) { v =>
        s.sql(
          s"""FROM ${v("orders")}
             ||> WHERE o_totalprice > 100000
             ||> EXTEND o_orderkey % 7 AS bucket
             ||> AGGREGATE COUNT(*) AS n,
             |     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |       AS price_total
             |   GROUP BY o_orderstatus, bucket
             ||> ORDER BY o_orderstatus, bucket""".stripMargin)
      }.select("o_orderstatus", "bucket", "n", "price_total")
    },

    // SQL session variables + EXECUTE IMMEDIATE (Spark 4 surfaces —
    // the engine twins of Hive's hivevar/hiveconf substitution
    // ([jar] org/apache/hadoop/hive/ql/parse/VariableSubstitution
    // .class), upgraded from lexical splice to typed session state):
    // DECLARE/SET VARIABLE holds typed values, and the query itself
    // runs through EXECUTE IMMEDIATE with a named parameter marker
    // bound via USING — parameterized SQL, not string concatenation.
    // The oracle replays with the values inlined, so the whole
    // variable/binding layer must be semantically transparent.
    q("q_sql_variables",
      """SELECT n_regionkey, COUNT(*) AS n_nations,
        |  CAST(SUM(CASE WHEN n_name >= 'E' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ge_cut
        |FROM nation WHERE n_nationkey >= 3
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      scoped(s, "nation" -> t(s, dir, "nation")) { v =>
        s.sql(s"DECLARE VARIABLE ${v("min_key")} INT DEFAULT 3")
        s.sql(s"DECLARE VARIABLE ${v("name_cut")} STRING DEFAULT 'zz'")
        s.sql(s"SET VAR ${v("name_cut")} = 'E'")
        s.sql(
          s"""EXECUTE IMMEDIATE
             |  'SELECT n_regionkey, COUNT(*) AS n_nations,
             |     CAST(SUM(CASE WHEN n_name >= :cut THEN 1 ELSE 0 END)
             |       AS BIGINT) AS ge_cut
             |   FROM ${v("nation")} WHERE n_nationkey >= :mk
             |   GROUP BY n_regionkey ORDER BY n_regionkey'
             |  USING ${v("min_key")} AS mk, ${v("name_cut")} AS cut""".stripMargin)
      }
    },

    // GROUP BY ALL / ORDER BY ALL (Spark 4 ≡ DuckDB — the SAME text
    // runs on both engines, the strongest possible dialect-parity
    // check): every non-aggregate select item becomes a grouping key,
    // and ORDER BY ALL sorts by the full select list left-to-right.
    // Beyond the reference: Hive requires explicit GROUP BY lists.
    q("q_group_by_all", {
      val sql =
        s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           |  ${T.oSum("l_quantity")} AS sum_qty
           |FROM lineitem WHERE l_quantity < 30
           |GROUP BY ALL ORDER BY ALL""".stripMargin
      sql
    }) { (s, dir) =>
      scoped(s, "lineitem" -> t(s, dir, "lineitem")) { v =>
        s.sql(
          s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM ${v("lineitem")} WHERE l_quantity < 30
             |GROUP BY ALL ORDER BY ALL""".stripMargin)
      }
    },

    // Lateral column aliases (Spark 3.4+ ≡ DuckDB): a select item can
    // reference an alias defined earlier in the SAME select list —
    // the incremental-derivation idiom Hive forces into nested
    // subqueries. Per-row double products evaluate in the identical
    // IEEE order on both engines, so no decimal staging is needed.
    q("q_lateral_alias",
      """SELECT o_orderkey,
        |  o_totalprice * 0.9 AS discounted,
        |  discounted * 0.07 AS tax,
        |  discounted + tax AS billed
        |FROM orders WHERE o_orderkey % 1000 = 1
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      scoped(s, "orders" -> t(s, dir, "orders")) { v =>
        s.sql(
          s"""SELECT o_orderkey,
             |  o_totalprice * 0.9 AS discounted,
             |  discounted * 0.07 AS tax,
             |  discounted + tax AS billed
             |FROM ${v("orders")} WHERE o_orderkey % 1000 = 1
             |ORDER BY o_orderkey""".stripMargin)
      }
    },

    // String COLLATIONS (Spark 4 engine surface, round 13): GROUP BY a
    // UTF8_LCASE-collated key and compare against a collated literal —
    // the engine-level case-insensitive semantics (collation travels
    // with the type through the aggregate, no per-row lower() rewrite
    // in the query text). The fixture synthesizes three case variants
    // of each lang (UPPER / as-is / Initcap by doc_id % 3); the
    // UTF8_LCASE group must merge exactly what the oracle's
    // GROUP BY lower() merges, while COUNT(DISTINCT lv) stays BINARY
    // (3 variants) — the contrast that proves the collation did the
    // merging, not the data. min(lv) is binary-deterministic (upper
    // sorts first in ASCII) so the surfaced representative matches.
    // Beyond the reference: Hive strings are binary-collated only.
    q("q_sql_collation",
      """WITH v AS (
        |  SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN upper(lang)
        |    WHEN 1 THEN lang
        |    ELSE concat(upper(substr(lang, 1, 1)), substr(lang, 2)) END
        |    AS lv
        |  FROM documents)
        |SELECT lower(lv) AS lang_ci, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lv) AS n_case_variants,
        |  MIN(lv) AS first_variant,
        |  CAST(SUM(CASE WHEN lower(lv) = 'en' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_en_ci
        |FROM v GROUP BY lower(lv) ORDER BY lang_ci""".stripMargin) {
      (s, dir) =>
      scoped(s, "documents" -> t(s, dir, "documents")) { v =>
        s.sql(
          s"""WITH v AS (
             |  SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN upper(lang)
             |    WHEN 1 THEN lang
             |    ELSE concat(upper(substr(lang, 1, 1)), substr(lang, 2)) END
             |    AS lv
             |  FROM ${v("documents")})
             |SELECT lower(min(lv)) AS lang_ci, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT lv) AS n_case_variants,
             |  MIN(lv) AS first_variant,
             |  CAST(SUM(CASE WHEN lv = 'EN' COLLATE UTF8_LCASE
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_en_ci
             |FROM v GROUP BY collate(lv, 'UTF8_LCASE')
             |ORDER BY lang_ci""".stripMargin)
      }
    },

    // IDENTIFIER() clause (Spark 4 engine surface): NAME binding — a
    // constant expression (the columns) or a named parameter marker
    // (the table) supplies an identifier where the grammar wants a
    // name, the injection-safe upgrade of Hive's textual hivevar
    // splicing into identifiers ([jar]
    // ql/parse/VariableSubstitution.class is the reference's only
    // tool for parameterizing a table name). The oracle inlines the
    // names — like EXECUTE IMMEDIATE, the binding layer must be
    // semantically transparent.
    q("q_sql_identifier",
      """SELECT n_regionkey, COUNT(*) AS n,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      scoped(s, "nation" -> t(s, dir, "nation")) { v =>
        s.sql(
          """SELECT IDENTIFIER('n_' || 'regionkey') AS n_regionkey,
            |  COUNT(*) AS n,
            |  CAST(SUM(IDENTIFIER('n_nationkey')) AS BIGINT) AS key_sum
            |FROM IDENTIFIER(:tbl)
            |GROUP BY IDENTIFIER('n_regionkey')
            |ORDER BY n_regionkey""".stripMargin,
          Map("tbl" -> v("nation")))
      }
    })
}

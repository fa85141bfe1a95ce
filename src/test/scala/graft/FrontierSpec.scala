package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.{CypherParser, ReadQuery}
import graft.exec.DataFrameBuilder
import graft.fixtures.TpchGraph
import graft.planner.Planner

/** Frontier-first expansion of point-anchored patterns: every shape it
  * rewrites returns the rows of a Spark SQL equivalent over the same
  * parquet tables, and a pattern whose frontier bound does not fit the
  * broadcast threshold keeps the plain plan. */
class FrontierSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"
  // a session of its own: other specs persist and drop index tables on
  // the memoized one
  private lazy val gs = TpchGraph.build(spark, dir)

  private def t(name: String) = s"parquet.`$dir/$name.parquet`"

  /** The three customers with the most orders (ties by key). */
  private lazy val busy: Seq[Long] = spark.sql(
    s"SELECT o_custkey FROM ${t("orders")} GROUP BY o_custkey " +
      "ORDER BY count(*) DESC, o_custkey LIMIT 3").collect().map(_.getLong(0)).toSeq
  private lazy val ck = busy.head

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def same(cypher: String, sql: String, params: Map[String, Any] = Map.empty): Unit = {
    val want = multiset(spark.sql(sql))
    assert(want.nonEmpty, s"vacuous case: $sql")
    assert(multiset(gs.cypher(cypher, params)) == want, cypher)
  }

  /** The formatted physical plan with expression ids masked, so two
    * builds of the same plan compare equal. */
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .replaceAll("#\\d+|plan_id=\\d+", "#")

  test("one index-backed hop") {
    same(s"MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) " +
      "RETURN o.o_orderkey AS ok, o.o_totalprice AS price;",
      s"SELECT o_orderkey, o_totalprice FROM ${t("orders")} WHERE o_custkey = $ck")
  }

  test("two index-backed hops, with a bound parameter") {
    same("MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) " +
      "RETURN p.p_brand AS brand, count(*) AS n;",
      s"SELECT p_brand, count(*) FROM ${t("orders")} " +
        s"JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM ${t("lineitem")}) l " +
        s"ON l_orderkey = o_orderkey JOIN ${t("part")} ON p_partkey = l_partkey " +
        s"WHERE o_custkey = $ck GROUP BY p_brand",
      Map("ck" -> ck))
  }

  test("three index-backed hops, the third against the edge direction") {
    same(s"MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)" +
      "<-[:CONTAINS]-(o2:Order) RETURN o2.o_orderkey AS k, count(*) AS n;",
      s"SELECT l2.l_orderkey, count(*) FROM ${t("orders")} o1 " +
        s"JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM ${t("lineitem")}) l1 " +
        "ON l1.l_orderkey = o1.o_orderkey " +
        s"JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM ${t("lineitem")}) l2 " +
        "ON l2.l_partkey = l1.l_partkey " +
        s"JOIN ${t("orders")} o2 ON o2.o_orderkey = l2.l_orderkey " +
        s"WHERE o1.o_custkey = $ck GROUP BY l2.l_orderkey")
  }

  test("an un-indexed derived hop (SUPPLIED_BY) after two index hops") {
    same(s"MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)" +
      "-[:SUPPLIED_BY]->(s:Supplier) RETURN s.s_suppkey AS s, count(*) AS n;",
      s"SELECT sb.l_suppkey, count(*) FROM ${t("orders")} " +
        s"JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM ${t("lineitem")}) l " +
        "ON l.l_orderkey = o_orderkey " +
        s"JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM ${t("lineitem")}) sb " +
        s"ON sb.l_partkey = l.l_partkey JOIN ${t("supplier")} ON s_suppkey = sb.l_suppkey " +
        s"WHERE o_custkey = $ck GROUP BY sb.l_suppkey")
  }

  test("cycle-closing edges: the anchored triangle and an index-backed cycle") {
    same(s"MATCH (c:Customer {c_custkey: $ck})-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region), " +
      "(c)-[:CUST_REGION]->(r) RETURN n.n_name AS nation, r.r_name AS region;",
      s"SELECT n_name, r_name FROM ${t("customer")} " +
        s"JOIN ${t("nation")} ON n_nationkey = c_nationkey " +
        s"JOIN ${t("region")} ON r_regionkey = n_regionkey WHERE c_custkey = $ck")
    // two orders of one customer sharing a part: the closing PLACED edge
    // is reached while the frontier is still bounded
    same(s"MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)" +
      "<-[:CONTAINS]-(o2:Order)<-[:PLACED]-(c) RETURN o.o_orderkey AS a, o2.o_orderkey AS b;",
      s"SELECT l1.l_orderkey, l2.l_orderkey " +
        s"FROM (SELECT DISTINCT l_orderkey, l_partkey FROM ${t("lineitem")}) l1 " +
        s"JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM ${t("lineitem")}) l2 " +
        "ON l2.l_partkey = l1.l_partkey " +
        s"JOIN ${t("orders")} o1 ON o1.o_orderkey = l1.l_orderkey " +
        s"JOIN ${t("orders")} o2 ON o2.o_orderkey = l2.l_orderkey " +
        s"WHERE o1.o_custkey = $ck AND o2.o_custkey = $ck")
  }

  test("OPTIONAL MATCH with a WHERE, bound to the anchor") {
    val Seq(median, top) = spark.sql(
      s"SELECT percentile_approx(o_totalprice, 0.5), max(o_totalprice) FROM ${t("orders")} " +
        s"WHERE o_custkey = $ck").head().toSeq
    // above the largest price nothing matches: the row stays, counting 0
    for (minp <- Seq(median, top))
      same(s"MATCH (c:Customer {c_custkey: $ck}) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) " +
        s"WHERE o.o_totalprice > $minp RETURN c.c_custkey AS ck, count(o) AS big;",
        s"SELECT c_custkey, count(o_orderkey) FROM ${t("customer")} " +
          s"LEFT JOIN ${t("orders")} ON o_custkey = c_custkey AND o_totalprice > $minp " +
          s"WHERE c_custkey = $ck GROUP BY c_custkey")
  }

  test("CALL { } ... UNION over anchored parts") {
    val q = "CALL { MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) " +
      "RETURN max(o.o_totalprice) AS top } " +
      "MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) WHERE o.o_totalprice = top " +
      "RETURN o.o_orderkey AS k UNION " +
      "MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) WHERE o.o_totalprice * 4.0 < top " +
      "RETURN o.o_orderkey AS k;"
    val orders = t("orders")
    same(q,
      s"WITH m AS (SELECT max(o_totalprice) AS top FROM $orders WHERE o_custkey = $ck) " +
        s"SELECT o_orderkey FROM $orders, m WHERE o_custkey = $ck AND o_totalprice = top " +
        s"UNION SELECT o_orderkey FROM $orders, m WHERE o_custkey = $ck AND o_totalprice * 4.0 < top",
      Map("ck" -> ck))
  }

  test("an IN-list anchor") {
    same("MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey IN $cks " +
      "RETURN c.c_custkey AS ck, o.o_orderkey AS ok;",
      s"SELECT o_custkey, o_orderkey FROM ${t("orders")} WHERE o_custkey IN (${busy.mkString(", ")})",
      Map("cks" -> busy))
  }

  test("fallback: a frontier bound over the threshold keeps the plain plan") {
    val q = s"MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) " +
      "OPTIONAL MATCH (o)-[:CONTAINS]->(p2:Part) WHERE p2.p_size > 20 " +
      "RETURN p.p_brand AS brand, count(p2) AS n;"
    def plain = new DataFrameBuilder(gs, frontierFirst = false).build(
      Planner.plan(CypherParser.parse(q).asInstanceOf[ReadQuery], gs.catalog))
    // engaged at the default threshold...
    assert(formatted(gs.cypher(q)) != formatted(plain))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // ...and not once one anchor row's width no longer fits
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 16)
      val fallback = gs.cypher(q)
      assert(formatted(fallback) == formatted(plain))
      assert(multiset(fallback) == multiset(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}

package graft.operators

import graft.QueryDsl.{dsum, localRows, sqlDsum, withConfs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

/** COST-BASED join reordering — statistics-driven planning, the piece of
  * 100 TB engineering that decides join ORDER rather than join METHOD
  * (AQE picks methods and splits at runtime; only table/column stats can
  * move a selective dim to the FRONT of a join chain before anything
  * executes). The classic failure it prevents: a 4-table chain written
  * fact-first — `((lineitem ⋈ orders) ⋈ customer) ⋈ nation(σ)` — joins
  * the two largest tables before the one-row nation filter has pruned
  * anything; with `ANALYZE`d stats and the DP reorderer, the optimizer
  * rewrites the chain to grow from the selective end, and the fact join
  * happens against an already-filtered stream.
  *
  * Tables register as EXTERNAL catalog entries pointing at the original
  * parquet (no copy; `ANALYZE` writes statistics to the catalog, not the
  * files) — per-JVM, memoized. The CBO confs are scoped to this query's
  * planning and restored, like the AQE/bloom demos. The operator
  * REQUIRES the reorder actually happened: the innermost join of the
  * OPTIMIZED plan must pair customer with nation (the selective end),
  * which the written order never does — so a green row certifies
  * stats-driven planning ran, not just that a join returned rows.
  * Results are order-independent (oracle = the plain chain).
  */
object Cbo {

  private val analyzed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def sfx(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  /** Register + ANALYZE the four chain tables for this sf dir, once per
    * JVM. Stats collection scans each table once — the amortized cost a
    * warehouse pays at ingest, not per query. */
  private def ensureStats(s: SparkSession, d: String): Map[String, String] = {
    val names = Seq("lineitem", "orders", "customer", "nation")
      .map(t => t -> s"cbo_${t}_${sfx(d)}").toMap
    names.foreach { case (t, tbl) =>
      if (analyzed.add(tbl)) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING PARQUET LOCATION '$d/$t.parquet'")
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
      }
    }
    names
  }

  def cboReorder(s: SparkSession, d: String): DataFrame = {
    val t = ensureStats(s, d)
    withConfs(s,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      // order must come from STATS, not from one side happening to fit
      // the broadcast threshold at fixture scale
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the deliberately fact-first chain; revenue for one nation
      val df = s.sql(
        s"""SELECT n.n_name,
           |       COUNT(*) AS n_lines,
           |       CAST(SUM(CAST((l.l_extendedprice * (1.0 - l.l_discount)) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
           |FROM ${t("lineitem")} l
           |JOIN ${t("orders")} o   ON l.l_orderkey = o.o_orderkey
           |JOIN ${t("customer")} c ON o.o_custkey = c.c_custkey
           |JOIN ${t("nation")} n   ON c.c_nationkey = n.n_nationkey
           |WHERE n.n_name = 'NATION_3'
           |GROUP BY n.n_name""".stripMargin)
      val optimized = df.queryExecution.optimizedPlan
      val innermost = optimized.collect {
        case j: Join if j.collect { case jj: Join => jj }.size == 1 => j
      }
      def tables(p: LogicalPlan): Set[String] =
        p.collectLeaves().map(_.toString).mkString("\n") match {
          case str => Seq("lineitem", "orders", "customer", "nation")
            .filter(n => str.contains(s"cbo_${n}_")).toSet
        }
      require(innermost.exists(j => tables(j) == Set("customer", "nation")),
        "CBO did not reorder the chain to start from the selective end; " +
          s"innermost joins: ${innermost.map(tables)}; plan:\n$optimized")
      val rows = df.collect() // executes under the scoped confs
      localRows(s, rows.toIndexedSeq, df.schema)
        .orderBy("n_name")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_cbo_reorder" -> (cboReorder _),
  )

  val oracle: Map[String, String] = Map(
    // the same chain in any order — join order never changes the answer
    "k_cbo_reorder" ->
      s"""SELECT n.n_name, COUNT(*) AS n_lines,
         |       ${sqlDsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
         |FROM lineitem l
         |JOIN orders o   ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n   ON c.c_nationkey = n.n_nationkey
         |WHERE n.n_name = 'NATION_3'
         |GROUP BY n.n_name
         |ORDER BY n.n_name""".stripMargin,
  )
}

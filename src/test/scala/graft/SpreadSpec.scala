package graft

import graft.plans.{PlanProbe, Spread}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Repartition}
import org.scalatest.funsuite.AnyFunSuite

/** A logical leaf no planner strategy accepts: probing it throws. */
case class Unplannable(name: String) extends LeafNode {
  override def output: Seq[Attribute] = Nil
}

/** The one spread decision (graft.plans.Spread) and the one plan-time
  * probe memo and re-entry guard behind it (graft.plans.PlanProbe). */
class SpreadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def par = spark.sparkContext.defaultParallelism

  /** A fresh one-file parquet table: one scan partition, at a path no
    * other test planned, so its spread decision is not memoized yet. */
  private def onePartition(sql: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("spread_spec").toString
    spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def spreads(p: LogicalPlan): Int = p.collect {
    case Repartition(n, true, _) if n == par => 1
  }.sum

  /** A `depth`-deep SQL spatial join over depth + 1 fresh tables of boxes. */
  private def nestedJoin(depth: Int): String = {
    (0 to depth).foreach { i =>
      onePartition(s"SELECT id AS k$i, CAST(id * 7 AS DOUBLE) AS x$i FROM range(30)")
        .createOrReplaceTempView(s"spread_t$i")
    }
    def box(i: Int) =
      s"(SELECT k$i, st_box(x$i, x$i, x$i + 10, x$i + 10) AS g$i FROM spread_t$i) b$i"
    s"SELECT k0 FROM ${box(0)}" + (1 to depth).map(i =>
      s" JOIN ${box(i)} ON st_intersects(g${i - 1}, g$i)").mkString
  }

  test("Spread wraps a one-partition, exchange-free input in a RoundRobin repartition") {
    SparkSession.setActiveSession(spark)
    val df = onePartition("SELECT id, id * 2 AS v FROM range(100)")
    assert(spreads(Spread(df).queryExecution.logical) == 1)
    val plan = df.queryExecution.analyzed
    assert(Spread(plan) == Repartition(par, shuffle = true, plan))
    assert(Spread(df).collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
  }

  test("Spread is a no-op on wide inputs, above an explicit repartition, and on streams") {
    val wide = spark.range(0, 100, 1, par).toDF()
    assert(Spread(wide) eq wide)
    val shuffled = onePartition("SELECT id FROM range(10)").repartition(2)
    assert(Spread(shuffled) eq shuffled)
    val stream = spark.readStream.format("rate").load()
    assert(Spread(stream) eq stream)
  }

  test("a SQL st_contains join planned twice probes each child once") {
    onePartition("SELECT id AS bid, CAST(id * 10 AS DOUBLE) AS bx FROM range(20)")
      .createOrReplaceTempView("spread_b")
    onePartition("SELECT id AS pid, CAST(id AS DOUBLE) AS px FROM range(200)")
      .createOrReplaceTempView("spread_p")
    val sql = "SELECT bid, pid FROM " +
      "(SELECT bid, st_box(bx, bx, bx + 15, bx + 15) AS bg FROM spread_b) " +
      "JOIN (SELECT pid, st_point(px, px) AS pg FROM spread_p) ON st_contains(bg, pg)"
    val c0 = PlanProbe.counts("Spread")
    val first = spark.sql(sql).queryExecution.optimizedPlan
    val c1 = PlanProbe.counts("Spread")
    val second = spark.sql(sql).queryExecution.optimizedPlan
    val c2 = PlanProbe.counts("Spread")
    assert(c1.misses - c0.misses == 2, s"$c0 -> $c1")
    assert(c2.misses == c1.misses && c2.hits - c1.hits == 2, s"$c1 -> $c2")
    assert(spreads(first) == 2 && spreads(second) == 2, first.treeString)
  }

  test("nested SQL spatial joins: at most one spread probe per join child, flat with depth") {
    (1 to 3).foreach { depth =>
      val sql = nestedJoin(depth)
      val c0 = PlanProbe.counts("Spread")
      val plan = spark.sql(sql).queryExecution.optimizedPlan
      val c1 = PlanProbe.counts("Spread")
      spark.sql(sql).queryExecution.optimizedPlan
      val c2 = PlanProbe.counts("Spread")
      val joins = plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.size == depth, plan.treeString)
      assert(c1.misses - c0.misses <= 2 * depth, s"depth $depth: $c0 -> $c1")
      assert(c2.misses == c1.misses, s"depth $depth replanned: $c1 -> $c2")
    }
  }

  test("a probe that throws leaves the plan unchanged and counts a fallback") {
    SparkSession.setActiveSession(spark)
    val before = PlanProbe.counts("Spread")
    val plan = Unplannable("spread-spec")
    assert(Spread(plan) eq plan)
    assert(PlanProbe.counts("Spread").fallbacks == before.fallbacks + 1)
  }

  test("a probe nested inside another probe is skipped, and the skip is not memoized") {
    val key = System.nanoTime()
    val inner = PlanProbe.memo("SpreadSpec.outer", key, fallback = Option.empty[Int]) {
      PlanProbe.memo("SpreadSpec.inner", key, fallback = -1)(42)
    }
    assert(inner == Some(None))
    assert(PlanProbe.counts("SpreadSpec.inner") == PlanProbe.Counts(0, 0, 1, 0))
    assert(PlanProbe.memo("SpreadSpec.inner", key, fallback = -1)(42) == Some(42))
    assert(PlanProbe.counts("SpreadSpec.inner") == PlanProbe.Counts(0, 1, 1, 0))
    // Spread's no-probe path: inside another probe nothing is spread
    val df = onePartition("SELECT id FROM range(10)")
    assert(PlanProbe.memo("SpreadSpec.outer", key + 1, fallback = false)(Spread(df) eq df)
      == Some(true))
    assert(Spread(df) ne df)
  }
}

package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: prints the formatted physical plan of selected queries and
  * flags scale smells (missing pushed filters, cartesian products where a
  * broadcast was intended, non-codegen stages).
  * Usage: runMain graft.PlanCheck [sfDir] [queryName...]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master(s"local[${Bench.hostCpus}]")
      .config("spark.sql.shuffle.partitions", Bench.hostCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        try {
          val df = fn(spark, sfDir)
          val s = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          println(s)
          // A BroadcastNestedLoopJoin whose broadcast side provably emits
          // one row (a no-grouping aggregate) is the scalar-broadcast
          // pattern — a deliberate design, not an all-pairs smell. Flag
          // only BNLJs whose build side could be wide.
          // AQE wraps the plan in AdaptiveSparkPlanExec, whose children
          // are hidden from collect — walk through it explicitly, and
          // descend into subquery plans too (a BNLJ inside a scalar
          // subquery is otherwise invisible to the tree walk)
          def walk(p: org.apache.spark.sql.execution.SparkPlan)
              : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
            case a: org.apache.spark.sql.execution.adaptive
                  .AdaptiveSparkPlanExec => walk(a.inputPlan)
            case other =>
              val subs = other.expressions.flatMap(_.collect {
                case s: org.apache.spark.sql.execution.ScalarSubquery =>
                  s.plan: org.apache.spark.sql.execution.SparkPlan
                case s: org.apache.spark.sql.execution.InSubqueryExec =>
                  s.plan: org.apache.spark.sql.execution.SparkPlan
              })
              other +: (other.children ++ subs).flatMap(walk)
          }
          val all = walk(df.queryExecution.executedPlan)
          val bnlj = all.collect {
            case j: org.apache.spark.sql.execution.joins
                  .BroadcastNestedLoopJoinExec =>
              val build = j.buildSide match {
                case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
                case _ => j.left
              }
              // a build side is the scalar-broadcast shape when the
              // TOPMOST linked logical node with a DEFINED maxRows proves
              // exactly 1 row (ungrouped aggregate, LIMIT 1, ...). Walking
              // past undefined WRAPPERS matters (a wrapper whose maxRows
              // is None can sit above the proving node), but the descent
              // must STOP at any node that can widen output — a Join's
              // maxRows is None whenever either side is unbounded, so
              // walking past it would land on e.g. its LIMIT-1 child and
              // misclassify a wide BNLJ build as scalar. First verdict
              // in pre-order wins: defined maxRows decides; an
              // undefined-bound widening node (Join/Generate/Union/
              // Expand) is non-scalar by fiat.
              import org.apache.spark.sql.catalyst.plans.logical._
              val scalar = walk(build).flatMap(_.logicalLink).collectFirst {
                case lp if lp.maxRows.isDefined => lp.maxRows.contains(1L)
                case _: Join | _: Generate | _: Union | _: Expand => false
              }.getOrElse(false)
              !scalar
          }
          val smells = Seq(
            "CartesianProduct" -> s.contains("CartesianProduct"),
            "PushedFilters: []" -> s.contains("PushedFilters: []"),
            "BroadcastNestedLoopJoin (non-scalar build)" ->
              bnlj.exists(identity))
            .collect { case (k, true) => k }
          if (smells.nonEmpty) println(s"[smell] $n: ${smells.mkString(", ")}")
          else if (bnlj.nonEmpty)
            println(s"[ok] $n: BNLJ present but build side is a 1-row scalar")
        } catch { case e: Throwable => println(s"[plancheck] $n failed: $e") }
      }
    }
    spark.stop()
  }
}

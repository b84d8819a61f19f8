package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Shape of an executed plan, and an order-free digest of a result. */
object Plans {
  private def strip(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
    case q: QueryStageExec => strip(q.plan)
    case other => other
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val s = strip(p)
    s +: (s.children ++ s.subqueries).flatMap(nodes)
  }

  /** (operators, exchanges) in the final physical plan of `df`. */
  def shape(df: DataFrame): (Int, Int) = {
    val ns = nodes(df.queryExecution.executedPlan)
    (ns.size, ns.count(_.isInstanceOf[Exchange]))
  }

  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[_] => a.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }
      .sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  /** SHA-256 over the rows with columns sorted by name and rows sorted:
    * equal for equal results whatever their order. */
  def digest(names: Seq[String], rows: Array[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => order.map(i => norm(r.get(i))).mkString("\u0001")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

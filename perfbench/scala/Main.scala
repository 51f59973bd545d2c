package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Executes one workload's op plan against the program and writes the raw
  * record (see [[Recorder]]). The plan — seeded op sequence, input paths,
  * window length — is made by perfbench/run.py, which also derives every
  * metric from the record.
  *
  * Usage: perfbench.Main <plan.json> <record.json>
  *        perfbench.Main --catalog <catalog.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args(0) == "--catalog") { Catalog.write(args(1)); return }
    val plan = Recorder.mapper.readTree(new java.io.File(args(0)))
    val cores = plan.get("cores").asInt
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.getOrCreate(s"local[$cores]", Some(cores), "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    try {
      val rec = new Recorder(spark, plan.get("trace").asBoolean)
      plan.get("workload").asText match {
        case "sql_read" => SqlRead.run(spark, plan, rec)
        case "delta_commit" => DeltaCommit.run(spark, plan, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      rec.write(args(1), sessionSeconds)
    } finally spark.stop()
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  def timed[T](body: => T): (Double, T) = {
    val t = System.nanoTime()
    val r = body
    ((System.nanoTime() - t) / 1e9, r)
  }

  /** Deadline loop: run `step(i)` for i = 0, 1, … while time is left and
    * the plan has ops; returns how many ran. The op in flight at the
    * deadline finishes. */
  def loop(deadlineMs: Double, rec: Recorder, n: Int)(step: Int => Unit): Int = {
    var i = 0
    while (i < n && rec.now() < deadlineMs) { step(i); i += 1 }
    i
  }

  /** Rows in a form two executions can be compared by: columns sorted by
    * name, rows in emitted order, doubles to 10 significant digits (the
    * comparison rules of tools/check_oracle.py). Floating-point cells carry
    * a `~` prefix for [[sameRows]]. */
  def canonical(df: DataFrame, rows: Array[Row]): Seq[Seq[String]] = {
    val names = df.columns.toSeq
    val order = names.indices.sortBy(names)
    rows.toSeq.map(r => order.map(i => canon(r.get(i))))
  }

  /** Equal row for row, except that two floating-point cells also match
    * when they differ by at most one unit in the last decimal place either
    * shows: Spark fixes no summation order, so `round(sum(x), 2)` over a
    * double can land on either side of a rounding boundary from one
    * execution to the next. Every other cell must be equal as text. */
  def sameRows(a: Seq[Seq[String]], b: Seq[Seq[String]]): Boolean =
    a.size == b.size && a.indices.forall(i => sameRow(a(i), b(i)))

  private def sameRow(a: Seq[String], b: Seq[String]): Boolean =
    a.size == b.size && a.indices.forall { j =>
      a(j) == b(j) || (a(j).startsWith("~") && b(j).startsWith("~") && scala.util.Try {
        val (x, y) = (new java.math.BigDecimal(a(j).tail), new java.math.BigDecimal(b(j).tail))
        val unit = java.math.BigDecimal.ONE.movePointLeft(x.scale.max(y.scale).max(0))
        x.subtract(y).abs.compareTo(unit) <= 0
      }.getOrElse(false))
    }

  /** The first row where two canonical results differ, for a check's
    * failure detail. */
  def firstDifference(got: scala.util.Try[Seq[Seq[String]]], want: scala.util.Try[Seq[Seq[String]]]): String =
    (got, want) match {
      case (scala.util.Success(g), scala.util.Success(w)) =>
        val i = g.indices.find(i => i >= w.size || !sameRow(g(i), w(i))).getOrElse(g.size)
        s"rows ${g.size} vs ${w.size}; first difference at row $i: " +
          s"${g.lift(i).map(_.mkString("|"))} vs ${w.lift(i).map(_.mkString("|"))}"
      case _ => s"got=$got want=$want"
    }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else if (d == 0.0) "~0"
    else "~" + new java.math.BigDecimal(d).round(new java.math.MathContext(10)).stripTrailingZeros.toPlainString
}

/** The relational SQL texts the plan generator draws from. */
object Catalog {
  def write(path: String): Unit = {
    val m = Recorder.mapper
    val out = m.createObjectNode()
    val rel = out.putObject("relational")
    graft.operators.Relational.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => rel.put(k, v) }
    m.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), out)
  }
}

package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaMerge, DeltaTable, DeltaWriter}
import Main.{loop, strings, timed}

/** `sql_read`: relational SQL texts over Delta tables registered with
  * CREATE TABLE … USING delta LOCATION, two closed-loop clients. */
object SqlRead {
  def run(spark: SparkSession, plan: JsonNode, rec: Recorder): Unit = {
    val work = plan.get("work_dir").asText
    val tables = plan.get("tables").elements.asScala.toSeq
    val reps = plan.get("setup_reps").asInt
    var root = ""
    for (r <- 0 until reps) {
      root = s"$work/tables_$r"
      val (s, _) = timed(tables.foreach { t =>
        strings(t.get("batches")).zipWithIndex.foreach { case (p, i) =>
          DeltaWriter.write(spark.read.parquet(p), s"$root/${t.get("name").asText}",
            if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append, Nil)
        }
      })
      rec.setupRep(s)
    }
    val fileCount = tables.map { t =>
      val name = t.get("name").asText
      spark.sql(s"CREATE TABLE $name USING delta LOCATION '$root/$name'")
      name -> DeltaLog.snapshot(spark, s"$root/$name").files.size.toLong
    }.toMap
    rec.results.put("tables_root", root)

    // warm-up and output check, outside the window: every timed SQL text
    // runs over Delta, and the plan's checked share must match its
    // registry DataFrame over the parquet inputs. The registry registers
    // its inputs as temp views named like the tables, so it runs in a
    // session of its own.
    val dataDir = plan.get("data_dir").asText
    val registry = spark.newSession()
    graft.functions.GraftFunctions.register(registry)
    graft.functions.GraftAggregates.register(registry)
    val expected = scala.collection.mutable.Map[String, Seq[Seq[String]]]()
    plan.get("statements").elements.asScala.foreach { st =>
      val name = st.get("name").asText
      val got = scala.util.Try {
        val df = spark.sql(st.get("sql").asText)
        Main.canonical(df, df.collect())
      }
      if (st.get("check").asBoolean) {
        val want = scala.util.Try {
          val df = graft.operators.Relational.queries(name)(registry, dataDir)
          Main.canonical(df, df.collect())
        }
        val ok = (for (g <- got; w <- want) yield Main.sameRows(g, w)).getOrElse(false)
        rec.check(s"sql:$name", ok, if (ok) "" else Main.firstDifference(got, want))
        if (ok) expected(name) = got.get
      } else got.foreach(expected(name) = _)
    }
    // every version the window's time-travel reads can ask for, once and
    // oldest first: each version's result is checked in every run, and the
    // window starts with every replay path compiled
    val firstTT = rec.results.putObject("time_travel")
    strings(plan.get("tt_warmup")).foreach { sql =>
      scala.util.Try {
        val df = spark.sql(sql.replace("{root}", root))
        Main.canonical(df, df.collect())
      } match {
        case scala.util.Success(got) =>
          expected(sql.replace("{root}", root)) = got
          val a = firstTT.putArray(sql)
          got.foreach(r => a.add(r.mkString("|")))
        case scala.util.Failure(e) => rec.check(s"tt:$sql", ok = false, e.toString)
      }
    }

    // further untimed passes, so the window starts on compiled code
    for (_ <- 1 until plan.get("warmup_passes").asInt; st <- plan.get("statements").elements.asScala)
      scala.util.Try(spark.sql(st.get("sql").asText).collect())

    // every later execution of a statement must return what its first did
    // (or what the check above accepted)
    val clients = plan.get("clients").elements.asScala.toIndexedSeq.map(_.elements.asScala.toIndexedSeq)
    val deadline = rec.windowBegin(plan)
    val threads = clients.indices.map { c =>
      val t = new Thread(() => {
        loop(deadline, rec, clients(c).size) { i =>
          val o = clients(c)(i)
          val (kind, name) = (o.get("kind").asText, o.get("name").asText)
          val sql = o.get("sql").asText.replace("{root}", root)
          val (node, res) = rec.op(c, i, kind, name) {
            val df = spark.sql(sql)
            (df, df.collect())
          }
          res.foreach { case (df, rows) =>
            val got = Main.canonical(df, rows)
            val key = if (kind == "sql") name else sql
            expected.synchronized(expected.getOrElseUpdate(key, got)) match {
              case want if !Main.sameRows(want, got) => rec.fail(node, s"result differs: ${
                Main.firstDifference(scala.util.Success(got), scala.util.Success(want))}")
              case _ =>
            }
            if (kind == "time_travel") firstTT.synchronized {
              if (!firstTT.has(o.get("sql").asText)) {
                val a = firstTT.putArray(o.get("sql").asText)
                got.foreach(r => a.add(r.mkString("|")))
              }
            }
            if (kind == "sql" && rec.traceWanted) scanFiles(df.queryExecution.executedPlan, fileCount).foreach {
              case (read, total) => node.put("scan_files", read).put("scan_total", total)
            }
          }
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    rec.windowEnd()
  }

  /** Files the scan nodes read against the live files of the tables they
    * scan; None when the plan has no file scan. */
  private def scanFiles(plan: SparkPlan, fileCount: Map[String, Long]): Option[(Long, Long)] = {
    var read = 0L
    var total = 0L
    var seen = false
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: FileSourceScanExec =>
          seen = true
          read += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          total += s.relation.location.rootPaths.map(r => fileCount.getOrElse(r.getName, 0L)).sum
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    if (seen && total > 0) Some((read, total)) else None
  }
}

/** `delta_commit`: two closed-loop writers on one table partitioned by
  * `shard`; client c confines every op to shard c. */
object DeltaCommit {
  def run(spark: SparkSession, plan: JsonNode, rec: Recorder): Unit = {
    val work = plan.get("work_dir").asText
    val seedDf = spark.read.parquet(plan.get("seed_parquet").asText)
    val schema = seedDf.schema
    val reps = plan.get("setup_reps").asInt
    val paths = (0 until reps).map(r => s"$work/orders_$r")
    paths.foreach { p =>
      val (s, _) = timed(DeltaWriter.write(seedDf, p, SaveMode.ErrorIfExists, Seq("shard")))
      rec.setupRep(s)
    }
    val path = paths.last
    rec.results.put("table", path)

    // one untimed op of every kind against a set-up copy: the window
    // starts with the write paths compiled
    val clients = plan.get("clients").elements.asScala.toIndexedSeq.map(_.elements.asScala.toIndexedSeq)
    if (reps > 1) {
      val warm = clients(0).groupBy(_.get("kind").asText).values.map(_.head).toSeq
      warm.foreach(o => execute(spark, schema, paths.head, clients.size, 0, o, None))
    }

    val deadline = rec.windowBegin(plan)
    val threads = clients.indices.map { c =>
      val t = new Thread(() => {
        loop(deadline, rec, clients(c).size) { i =>
          val o = clients(c)(i)
          val (node, res) = rec.op(c, i, o.get("kind").asText, o.get("kind").asText) {
            withRetries(execute(spark, schema, path, clients.size, c, o, Some(rec)))
          }
          res.foreach(r => node.setAll[ObjectNode](r))
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    rec.windowEnd()

    val fin = rec.results.putArray("final")
    DeltaTable.read(spark, path).groupBy("shard")
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long")), sum(col("o_orderkey")))
      .collect().sortBy(_.getInt(0)).foreach { r =>
        fin.addObject().put("shard", r.getInt(0)).put("n", r.getLong(1))
          .put("cents", r.getLong(2)).put("keysum", r.getLong(3))
      }
    rec.results.put("live_bytes", DeltaLog.snapshot(spark, path).files.map(_.size).sum)
  }

  private val MaxAttempts = 8

  /** The client's answer to a lost commit race: rerun the op against the
    * new snapshot, as the conflict error asks, after a jittered backoff.
    * Retries are recorded on the op; an op that loses every attempt fails. */
  private def withRetries(body: => ObjectNode): ObjectNode = {
    var attempt = 1
    var out: ObjectNode = null
    while (out == null) {
      try out = body
      catch {
        case _: java.util.ConcurrentModificationException if attempt < MaxAttempts =>
          attempt += 1
          Thread.sleep(scala.util.Random.nextInt(20) * attempt)
      }
    }
    out.put("retries", attempt - 1)
  }

  /** Rows for keys lo, lo + step, … (n of them; with `step` clients, client
    * c owns the keys k with k % step == c) with values the Python model
    * derives from (key, salt). */
  private def rows(spark: SparkSession, schema: StructType, ranges: Seq[(Long, Int)],
      step: Int, shard: Int, salt: Long): DataFrame = {
    val keys = ranges.map { case (lo, n) =>
      spark.range(n.toLong).select((lit(lo) + col("id") * step).as("o_orderkey"))
    }.reduce(_ union _)
    val k = col("o_orderkey")
    val df = keys.select(
      k,
      (k * 31 % 15000).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (k % 3 + 1).cast("int")).as("o_orderstatus"),
      (((k * 7919 + lit(salt * 104729)) % 49900000 + 100000).cast("double") / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + (k % 2400) * 86400).as("o_orderdate"),
      concat((k % 5 + 1).cast("string"), lit("-PRIO")).as("o_orderpriority"),
      lit(shard).as("shard"))
    df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  private def execute(spark: SparkSession, schema: StructType, path: String,
      clients: Int, c: Int, o: JsonNode, rec: Option[Recorder]): ObjectNode = {
    def call[T](name: String)(body: => T): T = rec.fold(body)(_.call(name)(body))
    val res = Recorder.mapper.createObjectNode()
    val inShard = s"shard = $c"
    def range = s"$inShard AND o_orderkey >= ${o.get("lo").asLong} AND o_orderkey < ${o.get("hi").asLong}"
    o.get("kind").asText match {
      case "append" =>
        val df = rows(spark, schema, Seq((o.get("lo").asLong, o.get("n").asInt)), clients, c,
          o.get("salt").asLong)
        call("delta.write")(DeltaWriter.write(df, path, SaveMode.Append, Seq("shard")))
      case "delete" =>
        val m = call("delta.dml")(DeltaDml.delete(spark, path, range))
        res.put("rows_changed", m.rowsAffected).put("files_rewritten", m.filesRewritten)
          .put("version", m.committedVersion)
      case "update" =>
        val m = call("delta.dml")(DeltaDml.update(spark, path, range,
          Map("o_totalprice" -> "o_totalprice + 1.0")))
        res.put("rows_changed", m.rowsAffected).put("files_rewritten", m.filesRewritten)
          .put("version", m.committedVersion)
      case "merge" =>
        val src = rows(spark, schema, Seq(
          (o.get("match_lo").asLong, o.get("match_n").asInt),
          (o.get("new_lo").asLong, o.get("new_n").asInt)), clients, c, o.get("salt").asLong)
        val m = call("delta.merge")(DeltaMerge.merge(spark, path, src,
          s"t.shard = $c AND t.o_orderkey = s.o_orderkey",
          matchedUpdate = Some(Map("o_totalprice" -> "s.o_totalprice")),
          notMatchedInsert = Some(schema.fieldNames.map(f => f -> s"s.$f").toMap)))
        res.put("rows_changed", m.rowsUpdated + m.rowsDeleted + m.rowsInserted)
          .put("files_rewritten", m.filesRewritten).put("version", m.committedVersion)
      case "read" =>
        val v = call("delta.snapshot")(DeltaLog.snapshot(spark, path)).version
        val r = call("delta.read")(DeltaTable.read(spark, path).filter(inShard)
          .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long")),
            sum(col("o_orderkey"))).collect()(0))
        res.put("n", r.getLong(0)).put("cents", if (r.isNullAt(1)) 0L else r.getLong(1))
          .put("keysum", if (r.isNullAt(2)) 0L else r.getLong(2)).put("version", v)
      case "optimize" =>
        val m = call("delta.optimize")(DeltaMaintenance.optimize(spark, path, predicate = Some(inShard)))
        res.put("files_rewritten", m.filesRemoved).put("files_added", m.filesAdded)
          .put("version", m.committedVersion)
    }
    res
  }
}

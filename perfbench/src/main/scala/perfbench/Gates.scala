package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._

/** The batch workloads: `SparkEntry.queries` gates run in sequence over a
  * seeded fixture. Every gate first runs once untimed ([[capture]]), which
  * warms the JVM, the codegen caches and the session's model cache as
  * `graft.Bench`'s warm-up pass does, and records what the timed calls
  * must return. Each timed call returns the row count and an
  * order-independent content hash of the gate's full result. */
object Gates {
  type Gate = (SparkSession, String) => DataFrame

  private lazy val all: Seq[(String, Gate)] = graft.SparkEntry.queries.toSeq.sortBy(_._1)
  def named(names: Seq[String]): Seq[(String, Gate)] = {
    val m = graft.SparkEntry.queries
    val missing = names.filterNot(m.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(", ")}")
    names.map(n => n -> m(n))
  }

  /** Every `stride`-th gate of the name-sorted registry, from the first. */
  def registry(stride: Int): Seq[(String, Gate)] =
    all.zipWithIndex.collect { case (g, i) if i % stride == 0 => g }

  /** One inexpensive gate per family: the gate layer's probe in every
    * traced run, behind the `family.*` metrics. */
  val probe = Seq("datalog_with", "dedup_clusters", "corpus_split", "text_repetition",
    "stream_quota_admit", "ts_transitions", "similarity_topk", "filter_string_pred")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and order-independent content hash; computes every column. */
  def digest(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val r = d.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  case class Checked(rows: Long, hash: String, error: Option[String])
  case class Timed(gate: String, pass: Int, wallS: Double, buildS: Double,
                   actionS: Double, rows: Long, hash: String, error: Option[String])

  private def message(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    .linesIterator.take(3).mkString(" ")

  /** Untimed pass: digest each gate's result; a gate with oracle SQL also
    * writes its full result for the DuckDB check, and the digest is then
    * taken from what was written. */
  def capture(spark: SparkSession, data: String, out: String,
              gates: Seq[(String, Gate)]): Map[String, Checked] =
    gates.map { case (name, fn) =>
      val path = s"$out/$name"
      val c = try {
        val df = fn(spark, data)
        val (rows, hash) =
          if (!graft.SparkEntry.oracleSql.contains(name)) digest(df)
          else {
            df.write.mode("overwrite").parquet(path)
            digest(spark.read.parquet(path))
          }
        Checked(rows, hash, None)
      } catch { case e: Throwable => Checked(-1, "", Some(message(e))) }
      finally graft.core.CacheRegistry.unpersistAll()
      name -> c
    }.toMap

  /** One timed pass; `onGate` runs after each gate, before its caches go. */
  def timedPass(spark: SparkSession, data: String, gates: Seq[(String, Gate)],
                pass: Int, spans: Spans, onGate: () => Unit = () => ()): Seq[Timed] =
    gates.map { case (name, fn) =>
      val t0 = System.nanoTime()
      var t1 = t0
      val res = try spans.within("op", name) {
        val df = spans.within("layer", "gates.build")(fn(spark, data))
        t1 = System.nanoTime()
        val (rows, hash) = spans.within("layer", "gates.action")(digest(df))
        Right((rows, hash))
      } catch { case e: Throwable => Left(message(e)) }
      val t2 = System.nanoTime()
      onGate()
      graft.core.CacheRegistry.unpersistAll()
      val (rows, hash) = res.getOrElse((-1L, ""))
      Timed(name, pass, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        rows, hash, res.left.toOption)
    }

  def checkedJson(c: Map[String, Checked]): JValue = JObject(c.toList.sortBy(_._1).map {
    case (n, v) => JField(n, ("rows" -> v.rows) ~ ("hash" -> v.hash) ~ ("error" -> v.error))
  })
  def timedJson(ts: Seq[Timed]): JValue = JArray(ts.toList.map(t =>
    ("gate" -> t.gate) ~ ("pass" -> t.pass) ~ ("wall_s" -> t.wallS) ~
      ("build_s" -> t.buildS) ~ ("action_s" -> t.actionS) ~ ("rows" -> t.rows) ~
      ("hash" -> t.hash) ~ ("error" -> t.error)))
  def oracleJson(gates: Seq[(String, Gate)]): JValue = JObject(gates.toList.flatMap {
    case (n, _) => graft.SparkEntry.oracleSql.get(n).map(sql => JField(n, JString(sql)))
  })
}

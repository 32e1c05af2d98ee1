package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One measured op. `check` says how its output is verified:
  *  - `oracle`: the parquet at `out` must equal DuckDB running
  *    `SparkEntry.oracleSql(oracleKey)` over the same input dir;
  *  - `rows`: the parquet at `out` must have the oracle's row count;
  *  - `none`: a commit whose effect the sequence's final probe checks.
  * A probe compares its collected rows against the checked output of
  * the sequence it reads, in the JVM; a mismatch is an `error`. */
final case class OpRecord(seq: Int, name: String, kind: String,
                          family: String, pass: Int,
                          startNs: Long, endNs: Long,
                          check: String, oracleKey: String, out: String,
                          error: String, spanId: Long,
                          phaseNs: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Closed-loop op runner: one client on the driver thread issues the
  * next op only when the previous one has returned. With a tracer it
  * records the op → phase (build, plan, exec) spans and forces the
  * executed plan as its own phase; without one it only times the op.
  */
final class Harness(spark: SparkSession, outDir: String,
                    tracer: Option[Tracer], workloadSpan: Long) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var pass = 0
  /** Runs after each op, outside its timing. */
  var afterOp: () => Unit = () => ()

  private def run(name: String, kind: String, family: String,
                  check: String, oracleKey: String, out: String)
                 (body: (String => (() => Any) => Any) => Unit): Unit = {
    val opId = tracer.map(_.newId()).getOrElse(0L)
    val phases = mutable.LinkedHashMap.empty[String, Long]
    def phase(p: String)(f: () => Any): Any = {
      val t0 = Clock.now()
      val pid = tracer.map { t =>
        val id = t.newId(); t.enterPhase(spark.sparkContext, opId, id); id
      }
      try f()
      finally {
        val t1 = Clock.now()
        phases(p) = phases.getOrElse(p, 0L) + (t1 - t0)
        tracer.foreach { t =>
          t.exitPhase(spark.sparkContext)
          t.record(Span(pid.get, opId, p, "phase", t0, t1))
        }
      }
    }
    val t0 = Clock.now()
    val err =
      try { body(p => f => phase(p)(f)); null }
      catch { case e: Throwable =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    val t1 = Clock.now()
    tracer.foreach(_.record(Span(opId, workloadSpan, name, "op", t0, t1)))
    records += OpRecord(records.size, name, kind, family, pass, t0, t1,
      check, oracleKey, out, err, opId, phases.toMap)
    afterOp()
  }

  /** Builds a frame and writes it to parquet — the sink every checked op
    * ends in, as `graft.Verify` does. */
  def frame(name: String, kind: String, family: String,
            oracleKey: String, check: String = "oracle")
           (build: => DataFrame): String = {
    val out = s"$outDir/res/${records.size}_$name"
    run(name, kind, family, check, oracleKey, out) { phase =>
      val df = phase("build")(() => build).asInstanceOf[DataFrame]
      if (tracer.nonEmpty) phase("plan")(() => df.queryExecution.executedPlan)
      phase("exec")(() => df.write.mode("overwrite").parquet(out))
    }
    out
  }

  /** A call that commits state and returns no frame. */
  def call(name: String, kind: String, family: String)(body: => Any): Unit =
    run(name, kind, family, "none", null, null) { phase =>
      phase("exec")(() => body)
    }

  /** A probe: collect the frame; its rows must equal `expected`. */
  def probe(name: String, kind: String, family: String, expected: Seq[String])
           (build: => DataFrame): Unit =
    run(name, kind, family, "none", null, null) { phase =>
      val df = phase("build")(() => build).asInstanceOf[DataFrame]
      if (tracer.nonEmpty) phase("plan")(() => df.queryExecution.executedPlan)
      val rows = phase("exec")(() => df.collect()).asInstanceOf[Array[Row]]
      val got = Harness.canonical(rows)
      if (got != expected)
        throw new IllegalStateException(
          s"probe returned ${got.size} rows that differ from the checked " +
            s"output (${expected.size} rows)")
    }
}

object Harness {
  /** Order-free form of a collected result, for probe comparisons. */
  def canonical(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted
}

package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.{Ckpt, SparkEntry}
import Main.{err, median, noop, timed}

/** The read workload: declared keys of the `wikidata` layer over the
  * seed's plain NDJSON dump and operator keys over the committed sf0.01
  * fixture (`--keys`). The seed picks the dump and shuffles the key order
  * of the first pass; later passes run in the declared order, so that every
  * run ends its window on the same key.
  *
  * The first pass runs in a fresh JVM from an empty stage dir and writes
  * each key's full result to parquet for the output check, so it pays the
  * stored-artifact builds and first-time code generation (`jvm.first_op_s`).
  * Later passes materialize into `noop` (`op_s`: sum of per-key medians). */
object QuerySuite {
  /** Timed passes in every run, however long the window. */
  val MinPasses = 3

  /** BlockManager storage memory in use, summed over executors. */
  private def storageBytes(s: SparkSession): Long =
    s.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) =>
      max - free }.sum

  def run(s: SparkSession, c: Conf, spans: Spans,
      excl: (=> WdBench.Dump) => WdBench.Dump, mark: () => Unit): Outcome = {
    val d = excl(WdBench.ensureDump(s, c))
    s.conf.set("spark.graft.wd.path", d.plain)
    val sf = c.fixture
    val q = c.keys.map(k => k -> SparkEntry.queries(k)).toMap

    var storageAfterRelease = 0L
    def pass(label: String, order: Seq[String], cnt: Option[Counters] = None)(
        materialize: (String, org.apache.spark.sql.DataFrame) => Unit)
        : Seq[(String, Op, Option[Snap])] = spans(label) {
      order.map { k =>
        val before = cnt.map(_.snap())
        val (res, dt) = spans(k) {
          timed {
            try { materialize(k, q(k)(s, sf)); None }
            catch { case t: Throwable => Some(err(t)) }
          }
        }
        val delta = cnt.map(_.snap() - before.get)
        // hand the key's scratch blocks back outside the timed region
        Ckpt.releaseScratch()
        org.apache.spark.GraftListenerBridge.drain(s.sparkContext)
        storageAfterRelease = math.max(storageAfterRelease, storageBytes(s))
        (k, Op(k, dt, res.isEmpty, res.getOrElse("")), delta)
      }
    }
    val toNoop = (_: String, df: org.apache.spark.sql.DataFrame) => noop(df)

    mark()
    val coldOrder = new scala.util.Random(c.seed).shuffle(c.keys)
    val cold = pass("cold_pass", coldOrder) { (k, df) =>
      df.write.mode("overwrite").parquet(c.path(s"out/$k"))
    }
    // a key that threw already counts as failed and has nothing to check
    val checks = cold.collect { case (k, op, _) if op.ok => k -> c.path(s"out/$k") }
    val rows = checks.map { case (_, p) => s.read.parquet(p).count() }.sum
    val warm = Main.window(c.seconds, MinPasses)(_ =>
      pass("warm_pass", c.keys)(toNoop))
    val retained = Main.retainedHeapMb()
    def keyMedian(passes: Seq[Seq[(String, Op, Option[Snap])]], k: String) =
      median(passes.flatMap(_.filter(_._1 == k).map(_._2.seconds)))
    val opS = c.keys.map(keyMedian(warm, _)).sum
    var tracedOps = Seq.empty[Op]
    val layers =
      if (!c.trace) Nil
      else {
        val cnt = Counters.register(s.sparkContext)
        // fixpoint keys run jobs while building their frame, so planning
        // is timed on the built frame, inside the traced pass
        var plan = 0.0
        val planThenNoop = (_: String, df: org.apache.spark.sql.DataFrame) => {
          plan += timed(df.queryExecution.executedPlan)._2
          noop(df)
        }
        val before = cnt.snap()
        val traced = spans("traced_passes") {
          Main.window(0, Main.TracedOps)(_ =>
            pass("traced_pass", c.keys, Some(cnt))(planThenNoop))
        }
        tracedOps = traced.flatten.map(_._2)
        val total = cnt.snap() - before
        val n = traced.size.toDouble
        val firstDelta = traced.head.map { case (k, _, sn) => k -> sn.get }.toMap
        val ladder = spans("prefix_ladder")(WdBench.prefixLadder(s, cnt,
          d.plain, d.long("plain_bytes"), withLabels = false))
        Seq("spark.plan_s" -> plan / n) ++ total.fields.collect {
          case (k, v: Long) if k != "input_bytes" => s"spark.$k" -> v / n
          case (k, v: Double) => s"spark.$k" -> v / n
        } ++ ladder ++ c.keys.flatMap { k =>
          Seq(s"ops.$k.warm_s" -> keyMedian(warm, k),
            s"ops.$k.cold_s" -> cold.find(_._1 == k).get._2.seconds,
            s"ops.$k.jobs" -> firstDelta(k).jobs,
            s"ops.$k.shuffle_write_bytes" -> firstDelta(k).shuffleWrite)
        } ++ Seq(
          "ckpt.storage_bytes_after_release" -> storageAfterRelease,
          "trace.overhead_s" ->
            (c.keys.map(keyMedian(traced, _)).sum - opS))
      }
    Outcome((cold ++ warm.flatten).map(_._2) ++ tracedOps, opS,
      cold.map(_._2.seconds).sum, rows, retained, checks, layers,
      extra = Seq("passes" -> (1 + warm.size),
        "per_key_warm_s" -> c.keys.map(k => k -> keyMedian(warm, k)),
        "per_key_cold_s" -> cold.map { case (k, o, _) => k -> o.seconds }))
  }
}

package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** Execution posture for the driver-side loop of a BSP operator.
  *
  * Every iterative operator in this engine follows the same chassis:
  * inputs are materialized ONCE up front (`localCheckpoint`, executed
  * under the session's normal config — AQE sizes that materialization
  * from real bytes), then a driver loop runs tens of per-step jobs
  * (the per-iteration `localCheckpoint`/`isEmpty` actions) whose plans
  * all have the SAME fixed shape: one or two exchanges over frames
  * whose size AQE already measured when it materialized the loop
  * inputs.
  *
  * Under AQE each of those exchanges becomes its own query stage —
  * a separate job submission plus a driver re-optimization round trip
  * per exchange per step. That re-planning buys nothing inside the
  * loop (the plan shape is fixed; the aggregates are associative with
  * map-side combine, so skew is absorbed before the exchange; the
  * partition-count decision comes out the same every step) and its
  * latency lands on the critical path of EVERY step: measured on the
  * 35-query graph family at sf0.1, 15–33 ms of scheduling floor per
  * stage across 48–132 stages per query (OPTIMIZATION_r21.md), and the
  * family got SLOWER from 8 → 32 cores because the floor grows with
  * the scheduler's bookkeeping, not the data.
  *
  * [[pinned]] therefore runs the loop body with AQE off and the
  * shuffle width pinned to the width AQE chose when it materialized
  * the loop's input frames. That keeps the posture scale-adaptive —
  * at 100 TB the input materialization coalesces to hundreds or
  * thousands of partitions and the loop inherits that width; at sf0.1
  * it inherits 1 — instead of hard-coding either the local core count
  * or a cluster constant. AQE is restored (and re-applies to whatever
  * the caller builds on the result) as soon as the loop exits.
  *
  * `spark.graft.loop.aqe=true` keeps AQE on inside loops (the
  * pre-round-22 behavior) for A/B comparison, e.g.
  * `graft.tools.Lab time --conf spark.graft.loop.aqe=true name…`.
  *
  * Results are unaffected either way: every loop step is a
  * deterministic integer/idempotent fold whose value is independent of
  * partitioning (the GraphSpec/oracle gates pin this), and AQE never
  * changes query semantics. Thread-scope caveat: `spark.conf.set` is
  * session-global, so a loop running concurrently with OTHER queries
  * on the same session would briefly impose this posture on them; the
  * bench/verify drivers run queries sequentially.
  */
object BspLoop {

  /** Dev-only step-plan capture (`graft.tools.Lab step-plan`): when
    * set, the loop operators hand each iteration's PRE-checkpoint frame
    * to the sink as (label, step, frame) — `localCheckpoint` severs the
    * plan, so this is the only point where the per-iteration shape
    * (Exchange count, join strategy) is visible to `explain`. A plain
    * None check when unset; never set outside that Lab mode. */
  @volatile private[graft] var stepSink: Option[(String, Int, DataFrame) => Unit] = None

  private[graft] def capture(label: String, step: Int, df: DataFrame): Unit =
    stepSink.foreach(f => f(label, step, df))

  /** Materializes `df` (eager `localCheckpoint`) with `metrics`
    * observed DURING the materialization job (`Dataset.observe` /
    * CollectMetrics) and returns the checkpointed frame plus the
    * observed longs. This is the §2.4 one-pass rule applied to the
    * loop's DRIVER scalars: the convergence probe (`filter(chg).
    * isEmpty`), the dangling-mass sum, the setup counts — each used to
    * be its own follow-up job scanning the frame that the checkpoint
    * job had JUST computed; observed, they ride that job for free. The
    * scalars stay bounded (a handful of longs — the pageRank-N class
    * of driver artifact), and the checkpointed frame is byte-identical
    * (CollectMetrics only taps the stream; the severed post-checkpoint
    * plan never contains it).
    *
    * Each metric must be an aggregate that is non-null on every input
    * (count, or a coalesced sum) — a NULL here would mean a silent 0. */
  private[graft] def checkpointObserved(df: DataFrame, metrics: Column*): (DataFrame, Seq[Long]) = {
    val obs = Observation()
    val named = metrics.zipWithIndex.map { case (m, i) => m.cast("long").as(s"m$i") }
    val ck = df.observe(obs, named.head, named.tail: _*).localCheckpoint()
    val row = obs.get
    val vals = metrics.indices.map { i =>
      row.get(s"m$i") match {
        case Some(l: java.lang.Long) => l.longValue
        case Some(null) | None =>
          throw new IllegalStateException(
            s"checkpointObserved: metric m$i observed NULL — use count() " +
              "or a coalesced sum so absence cannot read as zero silently")
        case Some(other) => other.toString.toLong
      }
    }
    (ck, vals)
  }

  /** Runs `body` (a BSP operator's driver loop) with AQE disabled and
    * `spark.sql.shuffle.partitions` pinned to the max partition count
    * of `inputs` — the loop's frames, whose width AQE derived from real
    * bytes. Restores both settings on exit.
    *
    * `inputs` must already be materialized (checkpointed, or a plain
    * scan): reading the partition count of a lazy frame with a shuffle
    * in it finalizes its adaptive plan, which runs the upstream stages
    * as an extra job before the loop starts and pins a width nobody
    * chose. */
  def pinned[T](spark: SparkSession, inputs: DataFrame*)(body: => T): T = {
    if (spark.conf.getOption("spark.graft.loop.aqe").contains("true")) return body
    require(inputs.nonEmpty, "BspLoop.pinned needs at least one input frame")
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    val prevAqe = spark.conf.get(aqeKey, "true")
    val prevPart = spark.conf.get(partKey)
    val width = math.max(1, inputs.map(_.rdd.getNumPartitions).max)
    spark.conf.set(aqeKey, "false")
    spark.conf.set(partKey, width.toString)
    try body
    finally {
      spark.conf.set(aqeKey, prevAqe)
      spark.conf.set(partKey, prevPart)
    }
  }
}

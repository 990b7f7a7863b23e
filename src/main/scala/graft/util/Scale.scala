package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: the shuffle-shaping patterns a 1000-executor run
  * needs that local[32] never forces (SURVEY §7.5 posture).
  */
object Scale {

  /** Two-phase skew-salted aggregation: groupBy (key, salt) partial →
    * groupBy key final. Spreads a hot key over `salts` reducers; the
    * second shuffle carries only (keys × salts) rows. Use when one key
    * holds a large share of rows (AQE skew-join handles joins but not
    * single-key aggregation skew).
    *
    * `aggs` must be decomposable (sum/count/min/max): the caller passes
    * the partial aggregate and the merge expression per output column.
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      salts: Int,
      partials: Seq[(String, Column)],
      merges: Seq[(String, Column => Column)]): DataFrame = {
    val salted = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val partial = salted.groupBy(key.as("_key"), col("_salt"))
      .agg(partials.head._2.as(partials.head._1),
        partials.tail.map { case (n, c) => c.as(n) }: _*)
    partial.groupBy(col("_key"))
      .agg(merges.head._2(col(merges.head._1)).as(merges.head._1),
        merges.tail.map { case (n, f) => f(col(n)).as(n) }: _*)
      .withColumnRenamed("_key", "key")
  }

  /** Convenience: skew-safe count per key. */
  def saltedCount(df: DataFrame, key: Column, salts: Int = 16): DataFrame =
    saltedAgg(df, key, salts,
      partials = Seq("n" -> count(lit(1))),
      merges = Seq("n" -> (c => sum(c))))

  /** Two-pass scaffold for GLOBAL ordered computations (running totals,
    * global row numbers) without the single-partition `Window.orderBy`
    * funnel: range-partition on the sort keys (partition ranges ascend
    * with partition id), compute the per-partition total of `weight`
    * (partition-count cardinality — collected to the driver), and return
    * the ranged frame (with a `_pid` column) plus the EXCLUSIVE prefix
    * offsets per pid. Callers apply a window PARTITIONED by `_pid` and
    * add `element_at(typedlit(offsets), col("_pid"))`. `localCheckpoint`
    * pins the partitioning so both passes see identical pids and the
    * upstream pipeline runs once. The grand total of `weight` rides along
    * (it falls out of the per-partition totals — no extra job). */
  def rangedOffsets(df: DataFrame, sortExprs: Seq[Column], weight: Column)
      : (DataFrame, Map[Int, Long], Long) = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(parts, sortExprs: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(eager = false)
    // coalesce: a partition whose weights are all null must count as 0,
    // not NPE on getLong.
    val totals = ranged.groupBy("_pid").agg(coalesce(sum(weight), lit(0L)).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (pid, t) => val o = acc; acc += t; pid -> o }.toMap
    (ranged, offsets, acc)
  }

  /** Distributed global row_number over `sortExprs` via [[rangedOffsets]]:
    * range-partition on the sort keys, rank locally per partition, add the
    * broadcast exclusive prefix offset. No single-partition WindowExec —
    * the plan survives corpora where a global `Window.orderBy` would
    * funnel every row through one task. Returns the ranked frame (rank is
    * 1-based, LongType) plus the total row count (free: the per-partition
    * totals are already on the driver). */
  def globalRowNumber(df: DataFrame, sortExprs: Seq[Column], rankCol: String)
      : (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val (ranged, offsets, total) = rangedOffsets(df, sortExprs, lit(1L))
    val local = Window.partitionBy("_pid").orderBy(sortExprs: _*)
    val ranked = ranged
      .withColumn(rankCol,
        row_number().over(local).cast("long") +
          coalesce(element_at(typedlit(offsets), col("_pid")), lit(0L)))
      .drop("_pid")
    (ranked, total)
  }

  /** Build two INDEPENDENT eagerly-materializing subplans concurrently
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially). Several audit-shaped queries construct two
    * `localCheckpoint` chains that share no state until a final join —
    * built serially, the second chain's jobs wait for the first's even
    * though the executors are mostly idle during each chain's tail.
    * `fa` runs on a daemon thread, `fb` on the caller; Spark schedules
    * both chains' jobs FIFO so the second back-fills the first's idle
    * slots. Exceptions from `fa` rethrow on the caller unwrapped.
    *
    * Failure hygiene: `fa` runs under its own job group so that when
    * `fb` throws, `fa`'s in-flight jobs are CANCELLED and the future is
    * awaited before rethrowing — otherwise the abandoned chain's jobs
    * keep running detached on the commonPool and interleave with the
    * next query's timing. */
  def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext).orNull
    val group = s"graft-inparallel-${inParallelSeq.incrementAndGet()}"
    val fut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      // job group / description are thread-local and the pool thread
      // inherits neither from the caller — set (and clear: pool threads
      // are reused) explicitly
      if (sc != null) sc.setJobGroup(group, "Scale.inParallel background chain")
      try fa
      finally if (sc != null) sc.clearJobGroup()
    }
    val b = try fb
    catch {
      case t: Throwable =>
        if (sc != null) sc.cancelJobGroup(group)
        try fut.join()
        catch { case _: Throwable => () } // fa's own failure is secondary
        throw t
    }
    val a = try fut.join()
    catch { case e: java.util.concurrent.CompletionException =>
      throw Option(e.getCause).getOrElse(e)
    }
    (a, b)
  }

  private val inParallelSeq = new java.util.concurrent.atomic.AtomicLong

  /** Broadcast-salted join for a skewed fact⋈dim join where the dim side
    * is too big to broadcast whole but a FEW keys are hot: replicate the
    * dim rows for hot keys `salts` times, salt the fact side randomly —
    * hot keys spread over `salts` tasks. (AQE's skew-join split covers
    * sort-merge joins; this is the explicit variant for when AQE can't
    * see the skew, e.g. after a transform.) */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salts)))
    val saltedDim = dim
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
    saltedFact.join(saltedDim, Seq(key, "_salt")).drop("_salt")
  }
}

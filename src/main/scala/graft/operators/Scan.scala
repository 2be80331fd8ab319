package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftext.GraftInternal
import org.apache.spark.sql.types.{StructField, StructType}

/** Distributed sequential scan over a totally-ordered DataFrame.
  *
  * Generalizes the two-pass prefix technique (see [[Ordered]]) to any
  * '''monoid-combinable''' running state: row index, prefix sums,
  * lag/hold-last ("last seen value"), phase accumulators — everything the
  * reference computes with per-tick mutable state
  * (reference: src/TickHotLoopF32.jl:53-83) — without a single-partition
  * window:
  *
  *   1. per-partition fold of `lift`/`combine` (parallel),
  *   2. driver-side exclusive scan over the per-partition states
  *      (one state per partition — tiny),
  *   3. per-partition re-scan emitting output columns, seeded with the
  *      partition's incoming state (parallel).
  *
  * Requirements: `combine` associative with identity `zero`; the input
  * must already be partition-ordered consistently with the desired total
  * order. Callers state that with `orderBy(key)` on the input: Catalyst
  * drops the sort when the producer declares the order (a scan's
  * `orderedBy`, [[planFenceOrdered]]) and range-sorts otherwise.
  *
  * Execution works on '''InternalRow''' (UnsafeRow) end-to-end: the
  * input is the plan's Tungsten output, cached as compact binary rows
  * (cheap to hold, Externalizable-fast to spill), and results re-enter
  * Catalyst via `internalCreateDataFrame` — no boxed-Row materialization
  * on either side. Callers address fields by ordinal
  * (`schema.fieldIndex`) with the primitive getters.
  *
  * When a computation needs SEVERAL dependent running states (state B's
  * per-row update reads the running value of state A — e.g. the hot
  * loop's bar statistics need the global eligible-row number), use
  * [[scanRounds]]: the input is checkpointed ONCE and each round adds one
  * lightweight fold job over the cached partitions, instead of chaining
  * full `scan` calls that each re-materialize the widening dataset.
  */
object Scan {

  /** One round of a multi-round scan: a monoid folded over the ordered
    * stream whose `lift` may read the running (pre-row, from stream
    * start) states of all EARLIER rounds.
    *
    * States are `Any`-typed (each round casts its own); `combine` must be
    * associative with identity `zero`. `step` advances a running state by
    * one row — override when a direct update is cheaper than
    * `combine(run, lift(...))` (the default).
    */
  trait Round extends Serializable {
    def zero: Any
    /** @param prev prev(k) = running state of round k BEFORE this row (k < this round's index) */
    def lift(prev: Array[Any], row: InternalRow): Any
    def combine(a: Any, b: Any): Any
    def step(run: Any, prev: Array[Any], row: InternalRow): Any = combine(run, lift(prev, row))
  }

  /** Multi-round scan: localCheckpoint `df`'s Tungsten rows once, then
    * for each round run one fold job (per-partition partials of that
    * round's monoid, with all earlier rounds' running states replayed
    * locally from their already-computed partition offsets), prefix-scan
    * the partials on the driver, and finally emit appended columns in one
    * lazy pass seeded with every round's offsets.
    *
    * Jobs: exactly `rounds.length` eager fold jobs (the first also
    * materializes the checkpoint); the emit pass is lazy.
    *
    * @param emit (runningStatesBeforeRow, row) => appended column values,
    *             in Catalyst internal representation (primitives / null)
    * @param orderedBy column names the OUTPUT is globally range-ordered
    *                  by (ascending) — a truthful restatement of the
    *                  scan's input-order requirement. When non-empty the
    *                  result plan declares RangePartitioning+SortOrder so
    *                  a downstream `orderBy` on the same keys costs
    *                  nothing (no Exchange, no Sort).
    */
  def scanRounds(
      df: DataFrame,
      appended: Seq[StructField],
      rounds: IndexedSeq[Round],
      emit: (Array[Any], InternalRow) => Seq[Any],
      orderedBy: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val inSchema = df.schema
    val schema = StructType(inSchema.fields ++ appended)
    val inTypes = inSchema.fields.map(_.dataType)
    val nIn = inTypes.length
    val nOut = nIn + appended.length
    // localCheckpoint + lineage truncation: every fold and the emit pass
    // read the exact rows the first pass saw — a recompute through a
    // not-order-stable shuffle could silently disagree with the collected
    // partials for non-commutative combines. `.copy()` detaches each
    // UnsafeRow from the scan's reused buffer. Storage level is tunable
    // (GRAFT_SCAN_CHECKPOINT_LEVEL): the MEMORY_AND_DISK default is
    // right for working sets within the storage pool; at 10x+ the cached
    // object rows crowd the heap and every stage GC-thrashes (Soak: 36x
    // checkpoint slowdown for 2.5x rows) — DISK_ONLY/MEMORY_AND_DISK_SER
    // trade per-row codec cost for heap headroom.
    val rdd = checkpointed(df)
    val nRounds = rounds.length
    // offsets(j)(pid) = round-j running state at partition pid's first row.
    val offsets = new Array[Array[Any]](nRounds)
    for (j <- 0 until nRounds) {
      val bcPrev = sc.broadcast(offsets.take(j))
      val rnds = rounds
      val partials: Array[(Int, Any)] = rdd.mapPartitionsWithIndex { (pid, it) =>
        val prevOff = bcPrev.value
        val run = Array.tabulate[Any](j)(k => prevOff(k)(pid))
        val round = rnds(j)
        var part = round.zero
        it.foreach { r =>
          part = round.combine(part, round.lift(run, r))
          // Advance earlier rounds descending: round k's step reads only
          // run(<k), which at that point still holds pre-row values.
          var k = j - 1
          while (k >= 0) { run(k) = rnds(k).step(run(k), run, r); k -= 1 }
        }
        Iterator((pid, part))
      }.collect()
      val byPid = partials.sortBy(_._1).map(_._2)
      offsets(j) = byPid.scanLeft(rounds(j).zero)(rounds(j).combine).toArray
    }
    val bcOff = sc.broadcast(offsets)
    val rnds = rounds
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = bcOff.value
      val run = Array.tabulate[Any](nRounds)(k => off(k)(pid))
      it.map { r =>
        val extra = emit(run, r)
        var k = nRounds - 1
        while (k >= 0) { run(k) = rnds(k).step(run(k), run, r); k -= 1 }
        val vals = new Array[Any](nOut)
        var i = 0
        while (i < nIn) { vals(i) = r.get(i, inTypes(i)); i += 1 }
        val itE = extra.iterator
        while (itE.hasNext) { vals(i) = itE.next(); i += 1 }
        new GenericInternalRow(vals): InternalRow
      }
    }
    if (orderedBy.nonEmpty)
      GraftInternal.internalCreateDataFrameOrdered(spark, out, schema, orderedBy)
    else GraftInternal.internalCreateDataFrame(spark, out, schema)
  }

  /** The checkpointed Tungsten-row RDD backing a scan: storage level
    * selected by GRAFT_SCAN_CHECKPOINT_LEVEL (default MEMORY_AND_DISK;
    * see [[scanRounds]]).
    */
  private def checkpointed(df: DataFrame) = {
    val rows = df.queryExecution.toRdd.map(_.copy())
    sys.env.get("GRAFT_SCAN_CHECKPOINT_LEVEL") match {
      case Some(name) => rows
        .persist(org.apache.spark.storage.StorageLevel.fromString(name))
        .localCheckpoint()
      case None => rows.localCheckpoint()
    }
  }

  /** Pure plan barrier that DECLARES the fenced rows' true physical
    * layout (globally range-ordered ascending by `sortCols` — see
    * [[GraftInternal.internalCreateDataFrameOrdered]]'s contract). It
    * re-enters Catalyst through an `ExistingRDD` scan, so no optimizer
    * rule (predicate pushdown, project collapse) can cross it. Unlike
    * [[scanRounds]] this is LAZY — no job, no checkpoint — and the
    * upstream plan re-evaluates per downstream job, so only fence
    * projections that are cheap to recompute.
    *
    * Use cases: rows that are ordered by construction but whose ordering
    * column is computed (e.g. `tick_idx` from a prefix base + replica
    * index), so Catalyst cannot infer it — the barrier costs one in-task
    * row copy and deletes a downstream global sort's Exchange+Sort; and
    * a derived source whose filter PushDownPredicates would otherwise
    * rewrite into N inlined copies of the whole parse expression (the t01
    * line builder: five copies, a generated filter past any JIT budget).
    * A real file source is a natural fence; this gives derived sources
    * the same boundary.
    */
  def planFenceOrdered(df: DataFrame, sortCols: Seq[String]): DataFrame =
    GraftInternal.internalCreateDataFrameOrdered(df.sparkSession,
      df.queryExecution.toRdd.map(_.copy()), df.schema, sortCols)

  /** Single-state scan (the common case): see [[scanRounds]].
    *
    * @param emit (stateBeforeRow, row) => appended column values
    */
  def scan[S](
      df: DataFrame,
      appended: Seq[StructField],
      zero: S,
      lift: InternalRow => S,
      combine: (S, S) => S,
      emit: (S, InternalRow) => Seq[Any],
      orderedBy: Seq[String] = Nil): DataFrame = {
    val (z, l, c) = (zero, lift, combine)
    val round: Round = new Round {
      def zero: Any = z
      def lift(prev: Array[Any], row: InternalRow): Any = l(row)
      def combine(a: Any, b: Any): Any = c(a.asInstanceOf[S], b.asInstanceOf[S])
    }
    scanRounds(df, appended, IndexedSeq(round),
      (states, row) => emit(states(0).asInstanceOf[S], row), orderedBy)
  }
}

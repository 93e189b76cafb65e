package graft.streaming

/** Corpus-scaled shuffle/state partition sizing for the streaming replay
  * gates (r13, VERDICT r12 task 4).
  *
  * Why: every micro-batch pays a PER-PARTITION state floor — each state
  * store instance commits a delta file per trigger (a stream-stream join
  * carries FOUR stores per partition), and the empty-batch profile shows
  * that floor dominating small replays: a 0-row no-data batch still costs
  * ~0.7 s at 4 partitions (BASELINE.md, "Streaming-replay floor";
  * `commitMs` ≈ 60-130 ms per store commit), and an interleaved same-JVM
  * A/B measured the whole replay ~29% faster at 1 partition than 4 at
  * sf0.1. Fixed partition counts therefore OVER-partition small
  * corpora — pure floor, no
  * parallelism payoff — while a count that grows with the corpus keeps
  * the sf10 plans at their measured optimum.
  *
  * The contract: `cap` is each gate family's previously fixed partition
  * count (the value the sf10 records were measured at), so at sf10 the
  * plan is IDENTICAL to the recorded basis; below it the count shrinks
  * with ceil(nRows / rowsPerPart), never under `floor`. Batch boundaries,
  * watermark semantics, and result hashes are partition-count-invariant
  * (the suite re-runs under GRAFT_TEST_SHUFFLE_PARTITIONS to enforce
  * exactly that), so this is a pure floor trim.
  */
object StreamScale {
  def parts(nRows: Long, rowsPerPart: Long, cap: Int, floor: Int = 1): Int = {
    require(rowsPerPart > 0, "rowsPerPart must be positive")
    require(floor >= 1 && cap >= floor, "need cap >= floor >= 1")
    val want = ((nRows + rowsPerPart - 1) / rowsPerPart).toInt
    math.max(floor, math.min(cap, want))
  }
}

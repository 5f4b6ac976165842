package graft.pipeline

import scala.collection.concurrent.TrieMap

/** Per-JVM ledger of session-staged chain BUILD time (the one-time
  * cost a [[Staged]] entry pays on first consumption). The registry
  * wraps every build in [[time]], so whichever declared query happens
  * to trigger the build can be billed for it: Bench samples
  * [[totalMs]] before/after each query and emits the delta as
  * `meta.chain_build_ms` — the committed record then separates
  * build-carrier queries (alphabetically-first chain consumers like
  * corpus_filter) from marginal serve cost without hand-derivation
  * (r17 verdict #4). Lazy builds that defer work into the consumer's
  * first action (no eager checkpoint/collect inside the build) bill
  * only their plan-construction time — the ledger is a lower bound
  * there, exact for the checkpointing chains that dominate.
  *
  * Bills are SELF time: a build that reads an unbuilt upstream stage
  * runs that stage's build inside its own, and the nested build's
  * wall is subtracted from the outer bill (a per-thread child-time
  * accumulator), so every millisecond is billed to exactly one chain
  * and a query's bill never exceeds its wall.
  */
object ChainBill {

  private val bill = TrieMap.empty[String, Long]

  /** Wall nanoseconds spent in nested [[time]] calls of the current
    * thread's innermost open [[time]] call.
    */
  private val childNs = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  /** Run `f`, attributing its wall milliseconds minus those of any
    * nested [[time]] call to `chain`.
    */
  def time[T](chain: String)(f: => T): T = {
    val acc = childNs.get()
    val outer = acc(0)
    acc(0) = 0L
    val t0 = System.nanoTime()
    try f
    finally {
      val ns = System.nanoTime() - t0
      val selfMs = (ns - acc(0)) / 1000000L
      acc(0) = outer + ns
      bill.updateWith(chain)(v => Some(v.getOrElse(0L) + selfMs))
    }
  }

  /** Total build milliseconds across all chains since the last reset. */
  def totalMs: Long = bill.values.sum

  /** Per-chain build milliseconds since the last reset. */
  def snapshot: Map[String, Long] = bill.toMap

  def reset(): Unit = bill.clear()
}

package graft.operators

/** Ledger of model build cost EXCLUDED from timed query
  * windows, plus the single opt-out gate for every bench-setup
  * preload/warm (r17 verdict item 2).
  *
  * The disk tier of [[DerivedStore.value]] moves trainer loops (ANN
  * centroids/codebooks, BPE merges) and exactness probes out of
  * per-query latency — the warehouse "the trained model ships with
  * the index" billing argument. The r17 verdict accepted the argument
  * but flagged the accounting: once the artifact exists on disk, NO
  * timed window ever executes the trainer again and the excluded cost
  * silently vanishes from every recording. Two fixes live here:
  *
  *  - [[preloadsEnabled]]: `SPARK_GRAFT_AOT_WARM=0` now gates ALL
  *    setup preloads and warms with one switch — the JIT/engine warms
  *    in Bench setup AND the store's disk tier for every value kind
  *    (values are then computed once per JVM, no disk read or write),
  *    so an opted-out run demonstrably pays training inside the first
  *    timed window that needs the model (the raw-JVM regime,
  *    measurable on demand).
  *
  *  - the cost ledger: every model built through the disk tier is
  *    timed and the seconds persist in the first line of its entry;
  *    disk hits re-read them. Bench sums whatever the setup preloads
  *    registered and emits `model_build_sec` in the recording — the
  *    excluded cost is visible in the artifact instead of vanished.
  *    Entries key by store key, so one model counted via two queries
  *    still counts once. Probe verdicts ([[DerivedStore.verdict]])
  *    stay out of the ledger, so `model_build_sec` counts trainers
  *    only.
  */
object ModelCost {

  /** One gate for every setup preload/warm (graph + streaming AOT
    * warms in Bench, ANN/BPE model preloads, and the store's disk
    * value tier). Read per call, not cached: tests set the property via
    * [[forceDisabled]].
    */
  def preloadsEnabled: Boolean =
    !sys.env.get("SPARK_GRAFT_AOT_WARM").contains("0") && !forceDisabledFlag

  /** Test hook — env vars can't be set from inside the JVM. */
  @volatile private[graft] var forceDisabledFlag: Boolean = false

  private val costs = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Double, Boolean)]()

  /** Record a training run executed NOW (`sec` measured). */
  def recordBuilt(kind: String, key: String, sec: Double): Unit =
    costs.put(key, (kind, sec, true))

  /** Record a disk hit carrying its original build cost `sec`. */
  def recordLoaded(kind: String, key: String, sec: Double): Unit =
    costs.putIfAbsent(key, (kind, sec, false))

  /** Total excluded build seconds registered so far in this JVM. */
  def totalSec: Double = {
    import scala.jdk.CollectionConverters._
    costs.values.asScala.map(_._2).sum
  }

  /** `{"kind":{"sec":N,"built_now":B},...}` — per-model breakdown for
    * the full bench record (kinds are unique per model family).
    */
  def entriesJson: String = {
    import scala.jdk.CollectionConverters._
    costs.values.asScala.toSeq.sortBy(_._1).map { case (kind, sec, now) =>
      s""""${kind.replaceAll("[\"\\\\]", "_")}":{"sec":${"%.2f".format(sec)},"built_now":$now}"""
    }.mkString("{", ",", "}")
  }

  private[graft] def clear(): Unit = costs.clear()
}

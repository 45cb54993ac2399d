package graft.operators

/** Ledger of the models built or loaded through the disk tier of
  * [[DerivedStore.value]] (ANN centroids and codebooks, BPE merges,
  * the PCA fit) in this JVM. A model trained now records its measured
  * seconds, which persist in the first line of its disk entry; a disk
  * hit re-reads them. Bench reports the ledger as `model_builds`
  * (`built_now` says which path ran inside the timed window) and its
  * total as `model_build_sec`. Entries key by store key, so one model
  * used by two queries counts once. Probe verdicts
  * ([[DerivedStore.verdict]]) stay out of the ledger, so
  * `model_build_sec` counts trainers only.
  */
object ModelCost {

  private val costs = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Double, Boolean)]()

  /** Record a training run executed NOW (`sec` measured). */
  def recordBuilt(kind: String, key: String, sec: Double): Unit =
    costs.put(key, (kind, sec, true))

  /** Record a disk hit carrying its original build cost `sec`. */
  def recordLoaded(kind: String, key: String, sec: Double): Unit =
    costs.putIfAbsent(key, (kind, sec, false))

  /** Total recorded build seconds registered so far in this JVM. */
  def totalSec: Double = {
    import scala.jdk.CollectionConverters._
    costs.values.asScala.map(_._2).sum
  }

  /** Per-model breakdown for the bench record, keyed by kind (kinds
    * are unique per model family): `sec` and `built_now`.
    */
  def entries: Map[String, Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    scala.collection.immutable.TreeMap.from(costs.values.asScala.map {
      case (kind, sec, now) => kind -> Map[String, Any]("sec" -> sec, "built_now" -> now)
    })
  }

  private[graft] def clear(): Unit = costs.clear()
}

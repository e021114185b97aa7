package graft.perfbench

import java.util.SplittableRandom

/** Seeded target-side drift for the resync workload: what changed in the
  * CKAN target since the previous harvest, and therefore exactly which
  * calls the next harvest must make.
  *
  *  - `patched`: documents whose `owner_name` was edited on the target →
  *    one `package_update` each;
  *  - `dropped`: documents removed from the target → one `package_create`
  *    each;
  *  - `staleOwned`: documents this source once published (they carry the
  *    `extras_kodas` marker) whose key is no longer in the source → one
  *    `package_delete` each;
  *  - `staleForeign`: documents without the marker → never touched.
  */
final case class Drift(patched: Set[String], dropped: Set[String],
    staleOwned: Set[String], staleForeign: Set[String]) {

  /** The drifted target: `baseline` with this drift applied. */
  def applyTo(baseline: java.util.Map[String, String]): java.util.HashMap[String, String] = {
    val out = new java.util.HashMap[String, String](baseline)
    patched.foreach { k =>
      out.put(k, out.get(k).replaceFirst(
        "\"owner_name\":\"[^\"]*\"", "\"owner_name\":\"Drifted Owner\""))
    }
    dropped.foreach(out.remove)
    staleOwned.foreach(k =>
      out.put(k, s"""{"o_orderkey":$k,"name_slug":"stale-$k","extras_kodas":"0"}"""))
    staleForeign.foreach(k =>
      out.put(k, s"""{"o_orderkey":$k,"name_slug":"foreign-$k"}"""))
    out
  }
}

object Drift {
  /** Keys far above any source key, so stale documents never collide. */
  val StaleKeyBase = 900000000L

  /** `frac` of `keys` patched and another `frac` dropped (disjoint),
    * plus `stale` owned and `stale` foreign documents — all chosen by
    * `seed`, so the same seed gives the same drift.
    */
  def generate(keys: Seq[String], seed: Long, frac: Double, stale: Int): Drift = {
    val rnd = new SplittableRandom(seed)
    val arr = keys.sorted.toArray
    // partial Fisher-Yates: the first 2n slots become a uniform sample
    val n = math.max(1, math.round(arr.length * frac).toInt)
    require(2 * n <= arr.length, s"drift of 2×$n keys over ${arr.length} documents")
    for (i <- 0 until 2 * n) {
      val j = i + rnd.nextInt(arr.length - i)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    val staleKeys = (0 until 2 * stale).map(i =>
      (StaleKeyBase + rnd.nextInt(1000000) * 2L * stale + i).toString)
    Drift(arr.take(n).toSet, arr.slice(n, 2 * n).toSet,
      staleKeys.take(stale).toSet, staleKeys.drop(stale).toSet)
  }
}

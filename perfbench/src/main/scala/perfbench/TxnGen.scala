package perfbench

import graft.streaming.TxnEngine.{KeyValueOption, Txn}

/** Seeded multi-key transaction generator.
  *
  * Txn `i` is drawn from its own RNG, seeded by mixing `seed` with `i`, so
  * any slice of the stream can be generated on its own and the same seed
  * always gives the same txns.
  *
  * @param keySpace    cold keys are drawn uniformly from `k0000000 ..`
  * @param keysPerTxn  distinct keys each txn touches (updates all of them)
  * @param hotKeys     size of the hot-key set `h0000 ..`
  * @param hotShare    share of txns whose first key is a hot key
  * @param assertShare share of txns that carry asserts
  * @param assertAll   assert on every key (else on the first key only)
  * @param absentShare share of asserts that expect the key to be absent;
  *                    the rest expect one of the `values` update values
  * @param values      size of the update-value domain `v0 ..`
  */
final case class TxnGen(seed: Long, keySpace: Int, keysPerTxn: Int,
    hotKeys: Int, hotShare: Double, assertShare: Double, assertAll: Boolean,
    absentShare: Double, values: Int) {

  def txn(i: Long): Txn = {
    val rnd = new java.util.SplittableRandom(TxnGen.mix(seed, i))
    val keys = new scala.collection.mutable.LinkedHashSet[String]
    if (hotKeys > 0 && rnd.nextDouble() < hotShare)
      keys += f"h${rnd.nextInt(hotKeys)}%04d"
    while (keys.size < keysPerTxn) keys += f"k${rnd.nextInt(keySpace)}%07d"
    val ks = keys.toSeq
    val asserts =
      if (rnd.nextDouble() >= assertShare) Seq.empty
      else (if (assertAll) ks else ks.take(1)).map { k =>
        KeyValueOption(k,
          if (rnd.nextDouble() < absentShare) None
          else Some(s"v${rnd.nextInt(values)}"))
      }
    Txn(i, asserts, ks.map(k => KeyValueOption(k, Some(s"v${rnd.nextInt(values)}"))))
  }

  def range(from: Long, until: Long): Array[Txn] =
    (from until until).iterator.map(txn).toArray

  def describe: Map[String, Any] = Map("seed" -> seed, "key_space" -> keySpace,
    "keys_per_txn" -> keysPerTxn, "hot_keys" -> hotKeys,
    "hot_share" -> hotShare, "assert_share" -> assertShare,
    "assert_all_keys" -> assertAll, "absent_share" -> absentShare,
    "value_domain" -> values)
}

object TxnGen {
  private[perfbench] def mix(salt: Long, id: Long): Long = {
    var z = salt * 0xD6E8FEB86659FD93L ^ (id * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Conflict census of one batch: txns sharing a key (directly or
    * transitively) form one component. Returns (components, largest).
    */
  def census(batch: Array[Txn]): (Int, Int) = {
    val parent = Array.tabulate(batch.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    val firstOnKey = new java.util.HashMap[String, Integer]
    batch.indices.foreach { i =>
      val t = batch(i)
      (t.asserts.iterator ++ t.updates.iterator).foreach { kv =>
        val prev = firstOnKey.putIfAbsent(kv.key, i)
        if (prev != null) {
          val (a, b) = (find(prev), find(i))
          if (a != b) parent(a) = b
        }
      }
    }
    val sizes = batch.indices.groupBy(find).values.map(_.size)
    (sizes.size, if (sizes.isEmpty) 0 else sizes.max)
  }
}

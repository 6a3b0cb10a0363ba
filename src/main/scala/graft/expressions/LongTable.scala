package graft.expressions

/** An open-addressing table of `long` keys for the per-row set work of
  * [[ShingleHashes]] and [[JaccardPpmExpr]]: flat `long` keys and `int`
  * stamps, no boxing, linear probing under a Fibonacci hash (keys may be
  * sequential ids, not only hashes), load factor at most 1/2.
  *
  * One table per thread, cleared in O(1) by a generation stamp: a call
  * reserves `gens` consecutive stamps starting at `base`, and a slot is
  * occupied in this call iff its stamp is ≥ `base`. Stamps left by earlier
  * calls are smaller, so they read as empty without being cleared. The
  * caller may tell its own states apart by the stamp (`base`,
  * `base + 1`, …).
  */
private[expressions] final class LongTable private (slots: Int) {
  private val keys = new Array[Long](slots)
  private val stamps = new Array[Int](slots)
  private val shift = 64 - Integer.numberOfTrailingZeros(slots)
  private val mask = slots - 1
  private var next = 1
  private var first = 0

  /** The first stamp of this call. */
  def base: Int = first

  private def begin(gens: Int): this.type = {
    if (next > Int.MaxValue - gens) {
      java.util.Arrays.fill(stamps, 0)
      next = 1
    }
    first = next
    next += gens
    this
  }

  /** The slot holding `k` in this call, or the empty slot where it goes. */
  def slot(k: Long): Int = {
    var i = ((k * 0x9e3779b97f4a7c15L) >>> shift).toInt
    while (stamps(i) >= base && keys(i) != k) i = (i + 1) & mask
    i
  }

  def stamp(i: Int): Int = stamps(i)

  def put(i: Int, k: Long, stamp: Int): Unit = {
    keys(i) = k
    stamps(i) = stamp
  }

  /** Adds `k` with stamp `base`; false when it is already present. */
  def add(k: Long): Boolean = {
    val i = slot(k)
    if (stamps(i) >= base) false
    else { put(i, k, base); true }
  }
}

private[expressions] object LongTable {
  /** A thread keeps at most this many slots (12 MiB); a larger call gets a
    * table of its own.
    */
  private final val MaxRetainedSlots = 1 << 20

  private val tables: ThreadLocal[LongTable] =
    ThreadLocal.withInitial(() => new LongTable(1 << 10))

  /** An empty table for at most `maxKeys` distinct keys, with `gens`
    * stamps reserved for this call.
    */
  def acquire(maxKeys: Long, gens: Int): LongTable = {
    val need = java.lang.Long.highestOneBit(math.max(1L, maxKeys) * 2 - 1) << 1
    require(need <= (1 << 30), s"too many keys for one table: $maxKeys")
    val cached = tables.get()
    val t =
      if (need <= cached.keys.length) cached
      else {
        val fresh = new LongTable(need.toInt)
        if (need <= MaxRetainedSlots) tables.set(fresh)
        fresh
      }
    t.begin(gens)
  }
}

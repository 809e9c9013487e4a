package graft.lsh

/**
 * Streaming per-bucket candidate-pair generator over a SORTED bucket-row
 * iterator ((band, key, skey, id), ordered by (band, key, skey, id)) —
 * the pairing step of [[Lsh.candidatePairs]].
 *
 * Per (band, key) bucket:
 *  - participants = the first `hardCap` members in (skey, id) order,
 *    i.e. the cap smallest by (skey, id) whatever the input layout;
 *  - ≤ maxBucket participants → all pairs; more → chain pairs in skey
 *    order (each member with its next `chainWidth` neighbours);
 *  - buckets whose TRUE member count exceeds `dropAbove` emit nothing
 *    (the boilerplate bound; counting continues past hardCap);
 *  - rows with a null skey/id never reach it (the caller filters them,
 *    so they neither pair nor count toward `dropAbove`);
 *  - pairs are (min, max), self-pairs skipped; the caller's distinct()
 *    removes pairs repeated across buckets.
 * Round6PairStreamSpec checks the pair set against a plain-Scala
 * oracle of these rules on adversarial bucket shapes.
 *
 * Why a stream: bucket groups are OVERWHELMINGLY singletons (~n·bands
 * groups for n docs — random band keys collide rarely), so a per-bucket
 * aggregate paid one object buffer allocation + serialize/deserialize
 * round-trip per GROUP, twice (partial + final) — measured 10 s of the
 * 375k-doc bench's candidate stage. The sorted-stream form pays ONE
 * UnsafeRow sort (already required to order members by skey) and emits
 * pairs with O(maxBucket + chainWidth) state, no per-group objects.
 *
 * Memory: the pair queue is released to the consumer only at group
 * completion when `dropAbove` is finite (a group can still be voided),
 * bounding it by maxBucket²/2 + dropAbove·chainWidth; with
 * dropAbove = MaxValue pairs stream out immediately past the
 * ≤ maxBucket buffering point.
 */
private[lsh] final class PairStream(
    rows: Iterator[(Int, Long, Long, Long)],
    maxBucket: Int, chainWidth: Int, hardCap: Int, dropAbove: Int)
  extends Iterator[(Long, Long)] {

  private val eager = dropAbove == Int.MaxValue

  // pending pair FIFO, packed (no tuples until next())
  private var qa = new Array[Long](128)
  private var qb = new Array[Long](128)
  private var qHead = 0
  private var qTail = 0
  private var qReleased = 0 // consumer may read [qHead, qReleased)
  private def qPush(x: Long, y: Long): Unit = {
    if (qTail == qa.length) {
      if (qHead > 0) {
        System.arraycopy(qa, qHead, qa, 0, qTail - qHead)
        System.arraycopy(qb, qHead, qb, 0, qTail - qHead)
        qTail -= qHead; qReleased -= qHead; gStart -= qHead; qHead = 0
      }
      if (qTail == qa.length) {
        qa = java.util.Arrays.copyOf(qa, qa.length * 2)
        qb = java.util.Arrays.copyOf(qb, qb.length * 2)
      }
    }
    qa(qTail) = x; qb(qTail) = y; qTail += 1
    if (eager) qReleased = qTail
  }
  private def emit(x: Long, y: Long): Unit =
    if (x != y) qPush(math.min(x, y), math.max(x, y))

  // current group state
  private var haveGroup = false
  private var gBand = 0
  private var gKey = 0L
  private var cnt = 0L   // TRUE member count (dropAbove bound)
  private var pCnt = 0   // participant count (≤ hardCap)
  private var gStart = 0 // queue offset at group start (void rewind)
  private var voided = false
  private var chainMode = false
  private val bufS = new Array[Long](math.max(1, maxBucket))
  private val bufI = new Array[Long](math.max(1, maxBucket))
  private val ringI = new Array[Long](math.max(1, chainWidth))
  private var ringN = 0
  private var ringPos = 0

  private def startGroup(b: Int, k: Long): Unit = {
    haveGroup = true; gBand = b; gKey = k
    cnt = 0L; pCnt = 0; gStart = qTail; voided = false
    chainMode = false; ringN = 0; ringPos = 0
  }

  private def ringAdd(id: Long): Unit = {
    ringI(ringPos) = id
    ringPos = (ringPos + 1) % chainWidth
    if (ringN < chainWidth) ringN += 1
  }

  private def chainEmit(id: Long): Unit = {
    // pair the new member with its previous ≤ chainWidth participants —
    // the same pair set as a forward (i, i+d), d ≤ chainWidth walk
    var d = 1
    while (d <= ringN) {
      emit(ringI(((ringPos - d) % chainWidth + chainWidth) % chainWidth), id)
      d += 1
    }
    ringAdd(id)
  }

  private def addMember(s: Long, id: Long): Unit = {
    cnt += 1
    if (voided) return
    if (cnt > dropAbove) { // boilerplate bucket: void all its pairs
      qTail = gStart
      voided = true
      return
    }
    if (pCnt >= hardCap) return // beyond the cap: counted, never paired
    pCnt += 1
    if (!chainMode) {
      if (pCnt <= maxBucket) { bufS(pCnt - 1) = s; bufI(pCnt - 1) = id }
      else {
        // bucket outgrew all-pairs: flush the buffered prefix as chain
        // pairs, seed the ring with its tail, continue streaming
        chainMode = true
        var j = 0
        while (j < maxBucket) {
          var d = 1
          while (d <= chainWidth && j + d < maxBucket) {
            emit(bufI(j), bufI(j + d)); d += 1
          }
          j += 1
        }
        var r = math.max(0, maxBucket - chainWidth)
        while (r < maxBucket) { ringAdd(bufI(r)); r += 1 }
        chainEmit(id)
      }
    } else chainEmit(id)
  }

  private def endGroup(): Unit = {
    if (haveGroup && !voided && !chainMode && pCnt >= 2) {
      // all-pairs among the ≤ maxBucket buffered participants
      var i = 0
      while (i < pCnt) {
        var j = i + 1
        while (j < pCnt) { emit(bufI(i), bufI(j)); j += 1 }
        i += 1
      }
    }
    qReleased = qTail // group complete: its pairs are final
    haveGroup = false
  }

  private def pump(): Unit = {
    while (qHead == qReleased && rows.hasNext) {
      val (b, k, s, id) = rows.next()
      if (!haveGroup) startGroup(b, k)
      else if (b != gBand || k != gKey) { endGroup(); startGroup(b, k) }
      addMember(s, id)
    }
    if (qHead == qReleased && !rows.hasNext && haveGroup) endGroup()
  }

  override def hasNext: Boolean = { pump(); qHead < qReleased }
  override def next(): (Long, Long) = {
    if (!hasNext) throw new NoSuchElementException
    val r = (qa(qHead), qb(qHead))
    qHead += 1
    r
  }
}

package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One change message as the generator emits it. `plant` marks a planted
  * dead letter — 0 clean, then the three classes the consumer's dead-letter
  * split distinguishes: 1 corrupt transport bytes, 2 corrupt payload,
  * 3 unknown schema_id. `ts` is the envelope timestamp (unix seconds). */
final case class Change(id: Long, seq: Long, op: String, name: String,
                        amount: Double, plant: Int, ts: Long)

/** The latest state of one key, as the generator's model holds it. */
final case class KeyState(seq: Long, name: String, amount: Double)

/** Seeded generator of CDC change messages over `keys` keys, with its own
  * model of the latest state per key.
  *
  * Keys are Zipf-skewed (exponent 1) over a seeded permutation of the key
  * space, so the hot keys are spread over it. A live key gets a delete with
  * probability 1/10 and an update otherwise; a key that is not live gets a
  * create. Every 100th message is a planted dead letter, the three classes
  * in turn, so exactly 1% of messages are planted, split evenly; planted
  * messages never reach the model. `seq` is the message's position in the
  * log, the total order the merge resolves by. */
final class ChangeGen(seed: Long, val keys: Int) {
  private val rng = new SplittableRandom(seed)

  private val rankToKey: Array[Long] = {
    val a = Array.tabulate(keys)(_.toLong)
    var i = keys - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private val cdf: Array[Double] = {
    val c = new Array[Double](keys)
    var acc = 0.0
    var r = 0
    while (r < keys) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
    c.indices.foreach(i => c(i) /= acc)
    c
  }

  val model = mutable.LongMap.empty[KeyState]
  private var seq = 0L
  /** Planted messages per class (index 1..3). */
  val planted = new Array[Long](4)
  var emitted = 0L

  /** The seed snapshot: every key live at seq 0. Also resets the model to it. */
  def seedRows(): Seq[Change] = {
    model.clear()
    (0 until keys).map { k =>
      val s = KeyState(0L, s"init$k", k * 0.01)
      model(k.toLong) = s
      Change(k.toLong, 0L, "c", s.name, s.amount, 0, 0L)
    }
  }

  private def zipfKey(): Long = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    rankToKey(math.min(i, keys - 1))
  }

  def next(ts: Long): Change = {
    seq += 1
    emitted += 1
    val key = zipfKey()
    val name = "n" + rng.nextInt(1000000)
    val amount = rng.nextInt(100000000) / 100.0
    if (seq % 100 == 0) {
      val cls = ((seq / 100) % 3 + 1).toInt
      planted(cls) += 1
      Change(key, seq, "u", name, amount, cls, ts)
    } else if (model.contains(key)) {
      if (rng.nextInt(10) == 0) {
        model.remove(key)
        Change(key, seq, "d", name, amount, 0, ts)
      } else {
        model(key) = KeyState(seq, name, amount)
        Change(key, seq, "u", name, amount, 0, ts)
      }
    } else {
      model(key) = KeyState(seq, name, amount)
      Change(key, seq, "c", name, amount, 0, ts)
    }
  }
}

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded curation corpus: documents over a small technical vocabulary,
  * a tenth of them near-duplicates of an earlier original document (one
  * to three words replaced), and isotropic random 64-dimensional
  * embeddings. Copying only originals keeps every near-duplicate cluster
  * a star, so the clustering's round count does not depend on the seed. */
object Corpus {
  val Vocabulary: Array[String] = ("a the data spark stream batch table row column " +
    "key value hash sort merge join window query filter group agg scan order " +
    "part line vector customer small big fast slow index shard token model " +
    "record event topic schema offset commit state snapshot delta").split(" ")

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rng = new SplittableRandom(seed)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val words =
        if (originals.nonEmpty && rng.nextInt(10) == 0) {
          val w = originals(rng.nextInt(originals.size)).clone()
          (0 to rng.nextInt(3)).foreach(_ => w(rng.nextInt(w.length)) =
            Vocabulary(rng.nextInt(Vocabulary.length)))
          w
        } else {
          val w = Array.fill(10 + rng.nextInt(50))(Vocabulary(rng.nextInt(Vocabulary.length)))
          originals += w
          w
        }
      val text = words.mkString(" ")
      Doc(i.toLong, text, if (rng.nextInt(4) == 0) "zh" else "en", s"src${rng.nextInt(5)}",
        text.length.toLong)
    }
  }

  def vecs(seed: Long, n: Int, dim: Int = 64): Seq[Vec] = {
    val rng = new SplittableRandom(seed)
    (0 until n).map(i => Vec(i.toLong,
      Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat), rng.nextInt(10)))
  }
}

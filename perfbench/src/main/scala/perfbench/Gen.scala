package perfbench

import graft.kernels.Hashing
import graft.sources.{TranscriptGen, Turn}
import java.sql.Timestamp
import java.util.Random

/** A generated document. Pairs inside one `family` are the only pairs the
  * generator can make similar, so they are the only pairs ground truth
  * scores; every other pair shares no vocabulary (or, for TranscriptGen
  * corpora, only random sentences). Docs with the same `planted` id are
  * meant to be near-duplicates; docs of one family with different planted
  * ids are meant to stay below θ.
  */
final case class GenDoc(id: String, turns: Array[String], family: String, planted: String)

object Gen {

  def rng(seed: Long, salt: Long): Random = new Random(Hashing.mix64(seed, salt))

  private def words(r: Random, prefix: String, vocab: Int, n: Int): Array[String] =
    Array.fill(n)(prefix + r.nextInt(vocab))

  /** Splits tokens into turns of at most `perTurn` tokens. */
  private def turnsOf(tokens: Array[String], perTurn: Int): Array[String] =
    tokens.grouped(perTurn).map(_.mkString(" ")).toArray

  def toTurns(docs: Seq[GenDoc]): Seq[Turn] = docs.zipWithIndex.flatMap { case (d, i) =>
    val base = 1700000000000L + i * 3600000L
    d.turns.zipWithIndex.map { case (t, j) =>
      Turn(d.id, j, TranscriptGen.Roles(j % 3), t, null, new Timestamp(base + j * 60000L))
    }
  }

  /** `hot_buckets`: short documents in large families. Every family member
    * is the family's shared core plus a short random tail from the family's
    * own vocabulary, so members collide in most band buckets (J ≈ 0.74) and
    * the all-core band value gathers most of the family into one bucket per
    * band; yet every pair stays below θ. Planted inside each family: a few
    * near-duplicate pairs (one tail word changed) and one chain of
    * single-word edits, a long component. Two exact-duplicate cliques (empty
    * docs and one templated text) ride along.
    */
  def hotBuckets(seed: Long, families: Int, members: Int, pairs: Int, chainLen: Int,
                 cliqueSize: Int): Seq[GenDoc] = {
    val Core = 48
    val Tail = 8
    val Vocab = 5000
    val out = Seq.newBuilder[GenDoc]
    (0 until families).foreach { f =>
      val r = rng(seed, 1000L + f)
      val prefix = s"h${f}x"
      val core = words(r, prefix, Vocab, Core)
      def member(tail: Array[String]) = turnsOf(core ++ tail, 20)
      def edit(tail: Array[String], pos: Int) = {
        val t = tail.clone(); t(pos % Tail) = prefix + r.nextInt(Vocab); t
      }
      (0 until members).foreach { m =>
        out += GenDoc(s"hb$f-m$m", member(words(r, prefix, Vocab, Tail)), s"fam$f", s"hb$f-m$m")
      }
      (0 until pairs).foreach { p =>
        val t = words(r, prefix, Vocab, Tail)
        out += GenDoc(s"hb$f-p${p}a", member(t), s"fam$f", s"hb$f-p$p")
        out += GenDoc(s"hb$f-p${p}b", member(edit(t, p)), s"fam$f", s"hb$f-p$p")
      }
      var t = words(r, prefix, Vocab, Tail)
      (0 until chainLen).foreach { c =>
        out += GenDoc(s"hb$f-c$c", member(t), s"fam$f", s"hb$f-chain")
        t = edit(t, c)
      }
    }
    val tr = rng(seed, 77L)
    val template = turnsOf(words(tr, "tplx", 5000, 30), 15)
    (0 until cliqueSize).foreach { i => out += GenDoc(s"hb-e$i", Array("", ""), "empty", "empty") }
    (0 until cliqueSize).foreach { i => out += GenDoc(s"hb-t$i", template, "tpl", "tpl") }
    out.result()
  }

  /** `probe_index` text side: `n` index docs, each with its own vocabulary. */
  def probeIndexDocs(seed: Long, n: Int): Seq[GenDoc] = (0 until n).map { i =>
    val r = rng(seed, 5000000L + i)
    GenDoc(f"ix$i%06d", turnsOf(words(r, s"d${i}x", 100000, 40), 20), s"ix$i", s"ix$i")
  }

  /** One probe batch against [[probeIndexDocs]]: a third near-duplicates of
    * an index doc (one word changed), a third hard negatives (two words
    * changed far apart, J ≈ 0.73), a third fresh docs.
    */
  def probeBatch(seed: Long, batch: Int, size: Int, index: IndexedSeq[GenDoc]): Seq[GenDoc] = {
    val r = rng(seed, 7000000L + batch)
    (0 until size).map { j =>
      val id = f"pb$batch%02d-$j%03d"
      j % 3 match {
        case 2 => GenDoc(id, turnsOf(words(r, s"fresh${batch}_${j}x", 100000, 40), 20), s"fresh-$id", id)
        case kind =>
          val src = index(r.nextInt(index.size))
          val toks = src.turns.mkString(" ").split(' ')
          val edits = if (kind == 0) Seq(10 + r.nextInt(20)) else Seq(5 + r.nextInt(10), 25 + r.nextInt(10))
          edits.foreach(p => toks(p) = s"e${batch}_${j}x${r.nextInt(100000)}")
          GenDoc(id, turnsOf(toks, 20), src.family, if (kind == 0) src.planted else id)
      }
    }
  }

  /** `probe_index` vector side: `queries` query vectors per batch and, in the
    * corpus, `k` planted neighbours per query at growing distance, plus
    * `noise` random vectors. Returns (corpus, per-batch queries); corpus ids
    * are 0-based, query ids start at 10^9.
    */
  def vectors(seed: Long, dims: Int, batches: Int, queries: Int, k: Int,
              noise: Int): (IndexedSeq[(Long, Array[Float])], IndexedSeq[IndexedSeq[(Long, Array[Float])]]) = {
    val r = rng(seed, 9000000L)
    def gauss() = Array.fill(dims)(r.nextGaussian().toFloat)
    val qs = IndexedSeq.tabulate(batches, queries)((b, j) => (1000000000L + b * queries + j, gauss()))
    val planted = qs.flatten.flatMap { case (_, q) =>
      (1 to k).map(m => Array.tabulate(dims)(d => q(d) + (0.03 * m * r.nextGaussian()).toFloat))
    }
    val corpus = (planted ++ IndexedSeq.fill(noise)(gauss())).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    (corpus, qs)
  }

  /** `append_stream` conversations, all of one shape (8 turns of 25 tokens,
    * or 8 empty turns), and batches all of one structure, so every append
    * does the same kind of work whatever the seed. Base conversation `i` is
    * a near-duplicate (two words changed) of `i - 1` when `i % 10 == 1`, and
    * empty when `i % 50 == 7`; every other one has its own vocabulary. Batch
    * `b` holds one empty conversation (an exact dup across batches), one
    * near-duplicate pair, fresh conversations, and `copies` copies of
    * distinct base conversations that are neither empty nor planted pairs,
    * alternately exact and with two words changed.
    */
  object AppendCorpus {
    private def text(seed: Long, key: Long): Array[String] = {
      val r = rng(seed, 13000000L + key)
      Array.fill(8 * 25)(s"a${key}x" + r.nextInt(100000))
    }
    private def edited(seed: Long, toks: Array[String], salt: Long): Array[String] = {
      val r = rng(seed, 17000000L + salt)
      val t = toks.clone()
      Seq(20 + r.nextInt(40), 120 + r.nextInt(40)).foreach(p => t(p) = s"e${salt}x" + r.nextInt(100000))
      t
    }
    private def doc(id: String, toks: Array[String], family: String) =
      GenDoc(id, if (toks.isEmpty) Array.fill(8)("") else turnsOf(toks, 25), family, family)

    def base(seed: Long, n: Int): IndexedSeq[GenDoc] = (0 until n).map { i =>
      if (i % 50 == 7) doc(f"b$i%05d", Array.empty, "empty")
      else if (i % 10 == 1) doc(f"b$i%05d", edited(seed, text(seed, i - 1L), i), s"b${i - 1}")
      else doc(f"b$i%05d", text(seed, i), s"b$i")
    }

    def batch(seed: Long, b: Int, fresh: Int, copies: Int, base: IndexedSeq[GenDoc]): IndexedSeq[GenDoc] = {
      val key = 1000000L * (b + 1)
      val pair = text(seed, key + 1)
      val news = IndexedSeq(
        doc(f"n$b%03d-000", Array.empty, "empty"),
        doc(f"n$b%03d-001", pair, f"n$b%03d-001"),
        doc(f"n$b%03d-002", edited(seed, pair, key + 2), f"n$b%03d-001")) ++
        (3 until fresh).map(j => doc(f"n$b%03d-$j%03d", text(seed, key + j), f"n$b%03d-$j%03d"))
      val regular = base.indices.filter(i => i % 10 > 1 && i % 50 != 7)
      val picks = new scala.util.Random(rng(seed, 19000000L + b).nextLong()).shuffle(regular).take(copies)
      val cps = picks.zipWithIndex.map { case (i, c) =>
        val toks = base(i).turns.mkString(" ").split(' ')
        doc(f"x$b%03d-$c%03d", if (c % 2 == 0) toks else edited(seed, toks, key + 500 + c), base(i).family)
      }
      news ++ cps
    }
  }

  /** Family key of TranscriptGen conversation `idx` (the planted dup group,
    * the boilerplate family, the empty clique), or its own solo key.
    */
  def transcriptFamily(idx: Long): String = {
    val block = idx / 10
    (idx % 10).toInt match {
      case 6 | 7 | 8                 => s"dup-$block"
      case 9                         => s"bp-${block / TranscriptGen.BoilerplateFamilySize}"
      case 5 if block % 7 == 0       => "empty"
      case _                         => s"solo-$idx"
    }
  }
}

package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** Property fuzz of the native BPE encode kernel against the
  * literal-replace-chain executable spec ([[BpeReference.encodeWordSpec]]):
  * for ANY merge table — not just trained ones — and any word, the
  * kernel's `minAllowed` rank loop must reproduce the sequential
  * source-scan replace semantics byte-for-byte. The generators
  * deliberately produce the hostile shapes the sequential argument hinges
  * on: multi-symbol lhs/rhs (chained merges), DUPLICATE pairs at
  * different steps (a pair can re-form when a later merge rebuilds an
  * identical symbol by a different split), overlapping occurrences
  * ("aaa" under (a,a)), merges whose pair never occurs, and merges that
  * only apply because an EARLIER merge created their symbols.
  *
  * A second property pins the kernel on TRAINED tables: driver-side
  * training ([[Tokenizer.trainFromWordFreq]]) over a random word-freq
  * table, then kernel ≡ spec on exactly the trained-on words.
  */
object TokenizerKernelProps extends Properties("BpeKernel") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(200)

  private val genSym: Gen[String] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))

  private val genWord: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))

  private val genMerges: Gen[Seq[Tokenizer.Merge]] =
    Gen.choose(0, 20).flatMap { n =>
      Gen.listOfN(n, genSym.flatMap(l => genSym.map(r => (l, r))))
        .map(_.zipWithIndex.map { case ((l, r), i) =>
          Tokenizer.Merge(i + 1, l, r, 1L)
        })
    }

  property("kernel ≡ literal-replace spec for ARBITRARY merge tables") =
    forAllNoShrink(genMerges, Gen.listOfN(8, genWord)) { (merges, words) =>
      val codec = Tokenizer.codecOf(merges)
      words.forall { w =>
        val kernel = codec.tokens(w).toSeq
        val spec = BpeReference.encodeWordSpec(w, merges)
        if (kernel != spec)
          println(s"BPE-DIVERGE word='$w' merges=$merges\n  kernel=$kernel\n  spec  =$spec")
        kernel == spec
      }
    }

  property("kernel ≡ spec under TRAINED tables (driver-side trainer)") =
    forAllNoShrink(
      Gen.choose(1, 8),
      Gen.choose(2, 12).flatMap(n =>
        Gen.listOfN(n, genWord.suchThat(_.nonEmpty)
          .flatMap(w => Gen.choose(1L, 9L).map(f => (w, f)))))) { (nMerges, wf) =>
      val dedup = wf.groupBy(_._1).map { case (w, fs) => (w, fs.map(_._2).sum) }.toSeq
      val merges = Tokenizer.trainFromWordFreq(dedup, nMerges)
      val codec = Tokenizer.codecOf(merges)
      dedup.forall { case (w, _) =>
        val kernel = codec.tokens(w).toSeq
        val spec = BpeReference.encodeWordSpec(w, merges)
        if (kernel != spec)
          println(s"BPE-TRAINED-DIVERGE word='$w' merges=$merges\n  kernel=$kernel\n  spec=$spec")
        kernel == spec
      }
    }

  property("encode is LOSSLESS: tokens concatenate back to the word (any table, any word)") =
    forAllNoShrink(genMerges, Gen.listOfN(8, genWord)) { (merges, words) =>
      val codec = Tokenizer.codecOf(merges)
      words.forall(w => codec.tokens(w).mkString("") == w)
    }

  property("vocab covers every token a trained encode emits; ids dense and first-wins") =
    forAllNoShrink(
      Gen.choose(1, 8),
      Gen.choose(2, 10).flatMap(n =>
        Gen.listOfN(n, genWord.suchThat(_.nonEmpty)
          .flatMap(w => Gen.choose(1L, 9L).map(f => (w, f)))))) { (nMerges, wf) =>
      val dedup = wf.groupBy(_._1).map { case (w, fs) => (w, fs.map(_._2).sum) }.toSeq
      val merges = Tokenizer.trainFromWordFreq(dedup, nMerges)
      val chars = dedup.flatMap(_._1.map(_.toString)).distinct
      val v = Tokenizer.vocab(merges, chars)
      val ids = v.map(_._2)
      val bySym = v.toMap
      val codec = Tokenizer.codecOf(merges)
      // dense 0..n-1 ids, unique symbols, and total coverage of encode output
      ids == ids.indices.toList.map(identity) &&
        v.map(_._1).distinct.size == v.size &&
        dedup.forall { case (w, _) => codec.tokens(w).forall(bySym.contains) }
    }

  property("doc token-ids ≡ per-word spec ∘ vocab lookup (any table; docs with runs of spaces)") =
    forAllNoShrink(
      genMerges,
      Gen.listOfN(6, Gen.choose(0, 4)
        .flatMap(k => Gen.listOfN(k, genWord).map(_.mkString(" "))))) { (merges, docsL) =>
      val words = docsL.flatMap(_.split(" ").filter(_.nonEmpty))
      val chars = words.flatMap(_.map(_.toString)).distinct
      val vocabSeq = Tokenizer.vocab(merges, if (chars.isEmpty) Seq("a") else chars)
      val vocab = new graft.functions.BpeVocab(vocabSeq.map(_._1).toArray)
      val codec = Tokenizer.codecOf(merges)
      val idOf = vocabSeq.toMap
      docsL.forall { doc =>
        val got = vocab.idsOf(
          org.apache.spark.unsafe.types.UTF8String.fromString(doc), codec)
          .toLongArray().toSeq
        val exp = doc.split(" ").filter(_.nonEmpty).toSeq
          .flatMap(w => BpeReference.encodeWordSpec(w, merges))
          .map(idOf(_).toLong)
        got == exp
      }
    }

  // ---- byte-level mode (q_t38): initial symbols are the GPT-2 remap of
  // the word's UTF-8 bytes; merge semantics unchanged ----

  private val genMbWord: Gen[String] =
    Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'é', 'ß', '日')).map(_.mkString))

  // symbols drawn from the REMAPPED alphabet (what byte-level merge
  // tables are actually made of): printable-remap chars plus shifted ones
  private val genByteSym: Gen[String] =
    Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'Ã', '©', 'æ', 'Ĺ')).map(_.mkString))

  private val genByteMerges: Gen[Seq[Tokenizer.Merge]] =
    Gen.choose(0, 20).flatMap { n =>
      Gen.listOfN(n, genByteSym.flatMap(l => genByteSym.map(r => (l, r))))
        .map(_.zipWithIndex.map { case ((l, r), i) =>
          Tokenizer.Merge(i + 1, l, r, 1L)
        })
    }

  // every remap symbol is one UTF-16 char (max code point 256+67), so the
  // inverse is a char→byte map
  private val unmapChar: Map[Char, Int] =
    graft.functions.ByteSymbols.syms.zipWithIndex
      .map { case (s, b) => (s.charAt(0), b) }.toMap
  private def unremap(s: String): String =
    new String(s.map(c => unmapChar(c).toByte).toArray,
      java.nio.charset.StandardCharsets.UTF_8)

  property("BYTE mode: kernel ≡ spec for ARBITRARY tables on multibyte words") =
    forAllNoShrink(genByteMerges, Gen.listOfN(8, genMbWord)) { (merges, words) =>
      val codec = Tokenizer.codecOf(merges, byteLevel = true)
      words.forall { w =>
        val kernel = codec.tokens(w).toSeq
        val spec = BpeReference.encodeWordSpec(w, merges, byteLevel = true)
        if (kernel != spec)
          println(s"BPE-BYTE-DIVERGE word='$w' merges=$merges\n  kernel=$kernel\n  spec  =$spec")
        kernel == spec
      }
    }

  property("BYTE mode: trained tables agree and are LOSSLESS through the remap inverse") =
    forAllNoShrink(
      Gen.choose(1, 8),
      Gen.choose(2, 10).flatMap(n =>
        Gen.listOfN(n, genMbWord.suchThat(_.nonEmpty)
          .flatMap(w => Gen.choose(1L, 9L).map(f => (w, f)))))) { (nMerges, wf) =>
      val dedup = wf.groupBy(_._1).map { case (w, fs) => (w, fs.map(_._2).sum) }.toSeq
      val merges = Tokenizer.trainFromWordFreq(dedup, nMerges, byteLevel = true)
      val codec = Tokenizer.codecOf(merges, byteLevel = true)
      dedup.forall { case (w, _) =>
        val toks = codec.tokens(w)
        toks.toSeq == BpeReference.encodeWordSpec(w, merges, byteLevel = true) &&
          unremap(toks.mkString("")) == w
      }
    }

  property("re-forming pair at a duplicate later step merges again (sequential fidelity)") =
    forAllNoShrink(Gen.const(())) { _ =>
      // hand construction: step1 (ab,c), step2 (a,b), step3 (ab,c) again.
      // In "aabc": step1 is a no-op (no "ab" symbol exists yet), step2
      // creates "ab" ADJACENT to "c" — only the DUPLICATE step3 entry can
      // merge that occurrence. A first-rank-wins kernel (rank 0 <
      // minAllowed after step2) would skip it and emit [a, ab, c]; the
      // sequential spec — and the multi-rank kernel — emit [a, abc].
      val merges = Seq(Tokenizer.Merge(1, "ab", "c", 1L),
        Tokenizer.Merge(2, "a", "b", 1L), Tokenizer.Merge(3, "ab", "c", 1L))
      val codec = Tokenizer.codecOf(merges)
      val allAgree = Seq("aabc", "abc", "aabcabc", "ababc").forall { w =>
        codec.tokens(w).toSeq == BpeReference.encodeWordSpec(w, merges)
      }
      allAgree && codec.tokens("aabc").toSeq == Seq("a", "abc")
    }
}

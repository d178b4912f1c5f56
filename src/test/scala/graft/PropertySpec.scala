package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Ids
import graft.index.EmbedBatching

/** Property-based invariants over the pure (driver-side) primitives —
  * the hash/id layer every join keys on (SURVEY.md §7.2 step 1).
  * Plain ScalaCheck Gen sampling (no scalatestplus bridge in the offline
  * dependency set).
  */
class PropertySpec extends AnyFunSuite {

  private def forSamples[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var produced = 0
    var tries = 0
    while (produced < n && tries < n * 5) {
      gen.sample.foreach { a => f(a); produced += 1 }
      tries += 1
    }
    assert(produced > 0, "generator produced no samples")
  }

  private val texts = Gen.listOf(Gen.alphaNumChar).map(_.mkString)

  test("pointId: stable, positive, 60-bit") {
    forSamples(texts) { s =>
      val a = Ids.pointId(s)
      assert(a == Ids.pointId(s))
      assert(a >= 0L && a < (1L << 60))
    }
  }

  test("hash31: stable and within [0, 2^31-1)") {
    forSamples(texts) { s =>
      val h = Ids.hash31(s)
      assert(h == Ids.hash31(s))
      assert(h >= 0L && h < 2147483647L)
    }
  }

  test("sha256/md5 hex: 64/32 lowercase hex chars for any input") {
    forSamples(texts) { s =>
      assert(Ids.sha256Hex(s).matches("[0-9a-f]{64}"))
      assert(Ids.md5Hex(s).matches("[0-9a-f]{32}"))
    }
  }

  test("embedText: deterministic, bounded, dim-sized, text-sensitive") {
    val emb = graft.index.DeterministicEmbedder(32)
    forSamples(texts) { s =>
      val v = emb.embedText(s)
      assert(v == emb.embedText(s))
      assert(v.length == 32)
      assert(v.forall(x => x >= -1.0 && x <= 1.0))
    }
    assert(emb.embedText("alpha") != emb.embedText("beta"))
  }

  test("batchByTokenBudget: partition of the input, order preserved, budget held") {
    val gen = for {
      n <- Gen.choose(0, 50)
      items <- Gen.listOfN(n, Gen.choose(1, 500).map("x" * _))
      budget <- Gen.choose(1L, 200L)
    } yield (items, budget)
    forSamples(gen, 100) { case (items, budget) =>
      val batches = EmbedBatching.batchByTokenBudget(items.iterator, budget).toSeq
      assert(batches.flatten == items) // exact partition, order kept
      assert(batches.forall(_.nonEmpty))
      batches.foreach { b =>
        if (b.length > 1) assert(b.map(EmbedBatching.estimateTokens).sum <= budget)
      }
    }
  }

  test("chunk ids: injective over their components (no separator collisions for sane names)") {
    val pair = for {
      a <- Gen.identifier.suchThat(_.nonEmpty)
      b <- Gen.identifier.suchThat(_.nonEmpty) if a != b
    } yield (a, b)
    forSamples(pair, 100) { case (a, b) =>
      assert(Ids.entityChunkId("f.py", a, "metadata") != Ids.entityChunkId("f.py", b, "metadata"))
      assert(Ids.relationChunkId(a, "calls", b) != Ids.relationChunkId(b, "calls", a))
    }
  }

  test("warc: encode -> parse round-trips arbitrary binary payloads") {
    import graft.ingest.WarcParser
    import graft.ingest.WarcParser.WarcRecord
    // payloads include record separators, version strings, empty bytes —
    // Content-Length framing must survive all of them
    val payload = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.const("\r\n\r\nWARC/1.0\r\n".getBytes("US-ASCII")),
      Gen.const(Array.empty[Byte]))
    val record = for {
      p <- payload
      t <- Gen.oneOf("response", "request", "metadata", "warcinfo")
      u <- Gen.identifier
    } yield WarcRecord(t, s"https://x/$u", "2026-01-01T00:00:00Z", "text/plain", p)
    val batch = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, record))
    forSamples(batch, 60) { recs =>
      val out = WarcParser.parse(WarcParser.encode(recs))
      assert(out.length == recs.length)
      out.zip(recs).foreach { case (o, i) =>
        assert(o.recordType == i.recordType && o.targetUri == i.targetUri)
        assert(o.payload.toSeq == i.payload.toSeq)
      }
    }
  }

}

package graft.cep

import org.scalatest.funsuite.AnyFunSuite
import StreamingCep.{BufEvent, CepStateEt, SerEvent, SerRun}

/** The versioned binary state codec: exact round trip and the
  * actionable version-mismatch failure (the state-schema-evolution
  * story — the Spark state schema is pinned to (int, binary) forever).
  */
class CepStateCodecSpec extends AnyFunSuite {

  private val run = SerRun(3, "q2", lastTake = true,
    revEps = Seq("q2", "q0"), etaKeys = Seq("n", "sum"),
    etaVals = Seq(4L, -9L), ctxKeys = Seq("x", "y"),
    ctxVals = Seq(
      Seq(SerEvent("a", Seq("event_id", "ts"), Seq(1L, 100L))),
      Seq(SerEvent("b", Seq("event_id"), Seq(2L)),
        SerEvent("b", Seq("event_id"), Seq(5L)))),
    firstTake = 2, firstTakeTs = 100L)

  private val state = CepStateEt(7, Seq(run, run.copy(start = 9)),
    Seq(BufEvent(123L, 45L, "c", Seq("event_id", "v"), Seq(6L, -1L))))

  test("encode/decode round-trips the full state exactly") {
    val decoded = CepStateCodec.decode(CepStateCodec.encode(state))
    // revEps is serialized sorted (deterministic bytes) — compare as sets
    assert(decoded.step == state.step)
    assert(decoded.buffer == state.buffer)
    assert(decoded.runs.size == 2)
    decoded.runs.zip(state.runs).foreach { case (d, o) =>
      assert(d.copy(revEps = d.revEps.sorted) ==
        o.copy(revEps = o.revEps.sorted))
    }
  }

  test("empty state round-trips") {
    val empty = CepStateEt(0, Nil, Nil)
    assert(CepStateCodec.decode(CepStateCodec.encode(empty)) == empty)
  }

  test("unknown version fails with an actionable message, not a Spark " +
    "internals error") {
    val v = CepStateCodec.encode(state)
    val e = intercept[IllegalStateException] {
      CepStateCodec.decode(v.copy(ver = 99))
    }
    assert(e.getMessage.contains("version 99"))
    assert(e.getMessage.contains("discard the checkpoint"))
  }

  test("deterministic bytes for equal states") {
    val a = CepStateCodec.encode(state).payload
    val b = CepStateCodec.encode(state).payload
    assert(java.util.Arrays.equals(a, b))
  }

  test("v3 header round-trips the clock floor and variant tag") {
    val tagged = state.copy(clock = 98765L,
      variant = CepStateCodec.VariantEventTime)
    val decoded = CepStateCodec.decode(CepStateCodec.encode(tagged))
    assert(decoded.clock == 98765L)
    assert(decoded.variant == CepStateCodec.VariantEventTime)
  }

  test("v4 round-trips the anchor stamps") {
    val anchored = state.copy(runs = Seq(
      run.copy(anchorFirst = 2, anchorLast = 6)))
    val decoded = CepStateCodec.decode(CepStateCodec.encode(anchored))
    assert(decoded.runs.head.anchorFirst == 2)
    assert(decoded.runs.head.anchorLast == 6)
  }

  /** Hand-rolled old-version payload (the documented v2 run/buffer walk,
    * optionally prefixed with the v3 header) — the synthesized bytes an
    * old build would have written, independent of the current encoder.
    */
  private def oldPayload(s: CepStateEt, withV3Header: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    if (withV3Header) { out.writeByte(s.variant); out.writeLong(s.clock) }
    out.writeInt(s.step)
    out.writeInt(s.runs.size)
    s.runs.foreach { r =>
      out.writeInt(r.start); out.writeUTF(r.q); out.writeBoolean(r.lastTake)
      val eps = r.revEps.sorted
      out.writeInt(eps.size); eps.foreach(out.writeUTF)
      out.writeInt(r.etaKeys.size)
      r.etaKeys.zip(r.etaVals).foreach { case (k, v) =>
        out.writeUTF(k); out.writeLong(v)
      }
      out.writeInt(r.ctxKeys.size)
      r.ctxKeys.zip(r.ctxVals).foreach { case (k, evs) =>
        out.writeUTF(k); out.writeInt(evs.size)
        evs.foreach { e =>
          out.writeUTF(e.tpe); out.writeInt(e.names.size)
          e.names.zip(e.vals).foreach { case (n, v) =>
            out.writeUTF(n); out.writeLong(v)
          }
        }
      }
      out.writeInt(r.firstTake); out.writeLong(r.firstTakeTs)
      // v2/v3 end the run record here — no anchor stamps
    }
    out.writeInt(s.buffer.size)
    s.buffer.foreach { b =>
      out.writeLong(b.ts); out.writeLong(b.ord); out.writeUTF(b.tpe)
      out.writeInt(b.names.size)
      b.names.zip(b.vals).foreach { case (n, v) =>
        out.writeUTF(n); out.writeLong(v)
      }
    }
    out.flush()
    bos.toByteArray
  }

  test("v3 payloads migrate: header kept, anchor stamps default to 0") {
    val tagged = state.copy(clock = 42L,
      variant = CepStateCodec.VariantArrival)
    val v3 = CepStateCodec.VersionedState(3, oldPayload(tagged,
      withV3Header = true))
    val decoded = CepStateCodec.decode(v3)
    assert(decoded.clock == 42L)
    assert(decoded.variant == CepStateCodec.VariantArrival)
    assert(decoded.step == state.step)
    assert(decoded.buffer == state.buffer)
    assert(decoded.runs.forall(r => r.anchorFirst == 0 && r.anchorLast == 0))
  }

  test("v6 round-trips STRING attributes on ctx events, buffer and " +
    "nav history") {
    val sEv = SerEvent("a", Seq("event_id"), Seq(1L),
      Seq("host", "page"), Seq("a.com", "/x"))
    val s6 = state.copy(
      runs = Seq(run.copy(ctxVals = Seq(Seq(sEv), Seq(sEv)))),
      buffer = Seq(BufEvent(1L, 2L, "c", Seq("event_id"), Seq(3L),
        Seq("host"), Seq("b.com"))),
      navSig = Seq("__nav_v"), navHist = Seq(sEv))
    val decoded = CepStateCodec.decode(CepStateCodec.encode(s6))
    assert(decoded.runs.head.ctxVals.head.head == sEv)
    assert(decoded.buffer == s6.buffer)
    assert(decoded.navHist == Seq(sEv))
  }

  /** Hand-rolled v5 payload: v3 header + run walk WITH anchor stamps +
    * buffer + nav section, all WITHOUT string sections — the bytes a
    * v5 build wrote.
    */
  private def v5Payload(s: CepStateEt): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(s.variant); out.writeLong(s.clock)
    out.writeInt(s.step)
    out.writeInt(s.runs.size)
    s.runs.foreach { r =>
      out.writeInt(r.start); out.writeUTF(r.q); out.writeBoolean(r.lastTake)
      val eps = r.revEps.sorted
      out.writeInt(eps.size); eps.foreach(out.writeUTF)
      out.writeInt(r.etaKeys.size)
      r.etaKeys.zip(r.etaVals).foreach { case (k, v) =>
        out.writeUTF(k); out.writeLong(v)
      }
      out.writeInt(r.ctxKeys.size)
      r.ctxKeys.zip(r.ctxVals).foreach { case (k, evs) =>
        out.writeUTF(k); out.writeInt(evs.size)
        evs.foreach { e =>
          out.writeUTF(e.tpe); out.writeInt(e.names.size)
          e.names.zip(e.vals).foreach { case (n, v) =>
            out.writeUTF(n); out.writeLong(v)
          }
        }
      }
      out.writeInt(r.firstTake); out.writeLong(r.firstTakeTs)
      out.writeInt(r.anchorFirst); out.writeInt(r.anchorLast)
    }
    out.writeInt(s.buffer.size)
    s.buffer.foreach { b =>
      out.writeLong(b.ts); out.writeLong(b.ord); out.writeUTF(b.tpe)
      out.writeInt(b.names.size)
      b.names.zip(b.vals).foreach { case (n, v) =>
        out.writeUTF(n); out.writeLong(v)
      }
    }
    out.writeInt(s.navSig.size); s.navSig.foreach(out.writeUTF)
    out.writeInt(s.navHist.size)
    s.navHist.foreach { e =>
      out.writeUTF(e.tpe); out.writeInt(e.names.size)
      e.names.zip(e.vals).foreach { case (n, v) =>
        out.writeUTF(n); out.writeLong(v)
      }
    }
    out.flush()
    bos.toByteArray
  }

  test("v5 payloads migrate: anchor stamps and nav kept, string " +
    "attributes default empty") {
    val tagged = state.copy(clock = 7L,
      variant = CepStateCodec.VariantArrival,
      runs = Seq(run.copy(anchorFirst = 1, anchorLast = 3)),
      navSig = Seq("__nav_v"),
      navHist = Seq(SerEvent("a", Seq("event_id"), Seq(1L))))
    val v5 = CepStateCodec.VersionedState(5, v5Payload(tagged))
    val decoded = CepStateCodec.decode(v5)
    assert(decoded.clock == 7L)
    assert(decoded.runs.head.anchorFirst == 1)
    assert(decoded.runs.head.anchorLast == 3)
    assert(decoded.navSig == Seq("__nav_v"))
    assert(decoded.runs.head.ctxVals.flatten.forall(_.sNames.isEmpty))
    assert(decoded.buffer.forall(_.sNames.isEmpty))
  }

  /** Hand-rolled v4 payload: v3 header + run walk WITH anchor stamps +
    * buffer, no navigation section, no string sections — the bytes a v4
    * build wrote.
    */
  private def v4Payload(s: CepStateEt): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(s.variant); out.writeLong(s.clock)
    out.writeInt(s.step)
    out.writeInt(s.runs.size)
    s.runs.foreach { r =>
      out.writeInt(r.start); out.writeUTF(r.q); out.writeBoolean(r.lastTake)
      val eps = r.revEps.sorted
      out.writeInt(eps.size); eps.foreach(out.writeUTF)
      out.writeInt(r.etaKeys.size)
      r.etaKeys.zip(r.etaVals).foreach { case (k, v) =>
        out.writeUTF(k); out.writeLong(v)
      }
      out.writeInt(r.ctxKeys.size)
      r.ctxKeys.zip(r.ctxVals).foreach { case (k, evs) =>
        out.writeUTF(k); out.writeInt(evs.size)
        evs.foreach { e =>
          out.writeUTF(e.tpe); out.writeInt(e.names.size)
          e.names.zip(e.vals).foreach { case (n, v) =>
            out.writeUTF(n); out.writeLong(v)
          }
        }
      }
      out.writeInt(r.firstTake); out.writeLong(r.firstTakeTs)
      out.writeInt(r.anchorFirst); out.writeInt(r.anchorLast)
    }
    out.writeInt(s.buffer.size)
    s.buffer.foreach { b =>
      out.writeLong(b.ts); out.writeLong(b.ord); out.writeUTF(b.tpe)
      out.writeInt(b.names.size)
      b.names.zip(b.vals).foreach { case (n, v) =>
        out.writeUTF(n); out.writeLong(v)
      }
    }
    // v4 ends here — no navigation section
    out.flush()
    bos.toByteArray
  }

  test("v4 payloads migrate: anchor stamps kept, no navigation " +
    "section, string attributes and SHOW EMPTY default empty") {
    val tagged = state.copy(clock = 11L,
      variant = CepStateCodec.VariantEventTime,
      runs = Seq(run.copy(anchorFirst = 4, anchorLast = 5)))
    val decoded = CepStateCodec.decode(
      CepStateCodec.VersionedState(4, v4Payload(tagged)))
    assert(decoded.clock == 11L)
    assert(decoded.variant == CepStateCodec.VariantEventTime)
    assert(decoded.step == state.step)
    assert(decoded.buffer == state.buffer)
    assert(decoded.runs.head.anchorFirst == 4)
    assert(decoded.runs.head.anchorLast == 5)
    assert(decoded.runs.head.ctxVals == run.ctxVals)
    assert(decoded.navSig.isEmpty && decoded.navHist.isEmpty)
    assert(decoded.runs.head.ctxVals.flatten.forall(_.sNames.isEmpty))
    assert(!decoded.trackedEmpty && decoded.pending.isEmpty)
  }

  /** Hand-rolled v6 payload: the v5 walk with every event's STRING
    * section appended (run ctx, buffer, nav history), and no SHOW EMPTY
    * section — the bytes a v6 build wrote.
    */
  private def v6Payload(s: CepStateEt): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def strs(ns: Seq[String], vs: Seq[String]): Unit = {
      out.writeInt(ns.size)
      ns.zip(vs).foreach { case (n, v) => out.writeUTF(n); out.writeUTF(v) }
    }
    def event(e: SerEvent): Unit = {
      out.writeUTF(e.tpe); out.writeInt(e.names.size)
      e.names.zip(e.vals).foreach { case (n, v) =>
        out.writeUTF(n); out.writeLong(v)
      }
      strs(e.sNames, e.sVals)
    }
    out.writeByte(s.variant); out.writeLong(s.clock)
    out.writeInt(s.step)
    out.writeInt(s.runs.size)
    s.runs.foreach { r =>
      out.writeInt(r.start); out.writeUTF(r.q); out.writeBoolean(r.lastTake)
      val eps = r.revEps.sorted
      out.writeInt(eps.size); eps.foreach(out.writeUTF)
      out.writeInt(r.etaKeys.size)
      r.etaKeys.zip(r.etaVals).foreach { case (k, v) =>
        out.writeUTF(k); out.writeLong(v)
      }
      out.writeInt(r.ctxKeys.size)
      r.ctxKeys.zip(r.ctxVals).foreach { case (k, evs) =>
        out.writeUTF(k); out.writeInt(evs.size); evs.foreach(event)
      }
      out.writeInt(r.firstTake); out.writeLong(r.firstTakeTs)
      out.writeInt(r.anchorFirst); out.writeInt(r.anchorLast)
    }
    out.writeInt(s.buffer.size)
    s.buffer.foreach { b =>
      out.writeLong(b.ts); out.writeLong(b.ord); out.writeUTF(b.tpe)
      out.writeInt(b.names.size)
      b.names.zip(b.vals).foreach { case (n, v) =>
        out.writeUTF(n); out.writeLong(v)
      }
      strs(b.sNames, b.sVals)
    }
    out.writeInt(s.navSig.size); s.navSig.foreach(out.writeUTF)
    out.writeInt(s.navHist.size); s.navHist.foreach(event)
    // v6 ends here — no SHOW EMPTY section
    out.flush()
    bos.toByteArray
  }

  test("v6 payloads migrate: string sections and nav kept, SHOW EMPTY " +
    "defaults to untracked with no pending sites") {
    val sEv = SerEvent("a", Seq("event_id"), Seq(1L),
      Seq("host"), Seq("a.com"))
    val tagged = state.copy(clock = 3L,
      variant = CepStateCodec.VariantArrival,
      runs = Seq(run.copy(ctxVals = Seq(Seq(sEv), Seq(sEv)),
        anchorFirst = 2, anchorLast = 2)),
      buffer = Seq(BufEvent(1L, 2L, "c", Seq("event_id"), Seq(3L),
        Seq("page"), Seq("/y"))),
      navSig = Seq("__nav_v"), navHist = Seq(sEv))
    val decoded = CepStateCodec.decode(
      CepStateCodec.VersionedState(6, v6Payload(tagged)))
    assert(decoded.clock == 3L)
    assert(decoded.variant == CepStateCodec.VariantArrival)
    assert(decoded.runs.head.ctxVals.head.head == sEv)
    assert(decoded.runs.head.anchorFirst == 2)
    assert(decoded.buffer == tagged.buffer)
    assert(decoded.navSig == Seq("__nav_v"))
    assert(decoded.navHist == Seq(sEv))
    assert(!decoded.trackedEmpty && decoded.pending.isEmpty)
  }

  test("v2 payloads migrate: derived clock sentinel + unknown variant") {
    val v2 = CepStateCodec.VersionedState(2, oldPayload(state,
      withV3Header = false))
    val decoded = CepStateCodec.decode(v2)
    assert(decoded.clock == Long.MinValue)
    assert(decoded.variant == CepStateCodec.VariantUnknown)
    assert(decoded.step == state.step)
    assert(decoded.buffer == state.buffer)
  }
}

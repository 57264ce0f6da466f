package graft.sources

/** Pure-JVM JPEG 2000 Part-1 codec (ITU-T T.800) — the codec behind
  * DICOM transfer syntaxes 1.2.840.10008.1.2.4.90 ("Lossless Only",
  * reversible 5/3) and .4.91 (lossy, irreversible 9/7 + scalar
  * quantization), written from the public spec like the T.87 JPEG-LS
  * codec in [[JpegLs]]. The reference handles both syntaxes via
  * pydicom+gdcm
  * (`/root/reference/src/qcardia_data/setup/reformat/utils.py:132-215`);
  * with this codec the engine ingests them natively, closing the last
  * external-transcode DICOM gap.
  *
  * Implemented surface (what DICOM encoders actually emit): raw
  * JPEG 2000 codestreams (SOC..EOC), single component, single tile,
  * reversible 5/3 wavelet with no quantization (Sqcd style 0) OR
  * irreversible 9/7 wavelet (T.800 F.4.8) with scalar-derived or
  * scalar-expounded quantization and midpoint dequantization (T.800
  * E.1), one quality layer, default precincts (one per resolution), any
  * progression order (with one layer/component/precinct every order
  * degenerates to resolution order), EBCOT Tier-1 with the MQ coder
  * (T.88 / T.800 C-D) and Tier-2 tag-tree packet headers (T.800 B.10).
  * Multi-component, custom precincts, multiple layers/tiles, and
  * coder-style extensions (bypass/termall/...) fail loudly by name —
  * streams needing them go through an external transcode, the same
  * posture the RLE/JPEG-LS codecs take for their out-of-scope variants.
  *
  * The encoder twins emit the same restricted profile (making
  * round-trip tests self-contained, like [[JpegLs.encode]]): decode ∘
  * [[encode]] is bit-exact for any precision 2..16, signed or
  * unsigned; decode ∘ [[encode97]] is bounded by the chosen step size
  * (PSNR-tested in Jpeg2000Spec).
  */
object Jpeg2000 {

  /** One decoded codestream: raster-order samples (sign-extended when
    * `signed`), as coded — no windowing/rescale applied. */
  final case class Image(width: Int, height: Int, precision: Int,
                         signed: Boolean, samples: Array[Int])

  // ======================================================================
  // MQ arithmetic coder (ITU-T T.88 annex E / T.800 annex C)
  // ======================================================================

  // Qe, NMPS, NLPS, SWITCH — T.88 Table E.1, row-major
  private val Qe = Array(
    0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221, 0x5601, 0x5401,
    0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601, 0x5601, 0x5401,
    0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801, 0x2401, 0x2201,
    0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101, 0x0AC1, 0x09C1,
    0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141, 0x0111, 0x0085,
    0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001, 0x5601)
  private val Nmps = Array(
    1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46)
  private val Nlps = Array(
    1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20, 21, 14, 14,
    15, 16, 17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29,
    30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46)
  private val Switch = Array(
    1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  // T1 context slots: 0-8 zero coding, 9-13 sign coding, 14-16 magnitude
  // refinement, 17 run-length, 18 uniform (T.800 Table D.7 initial states)
  private val NumCtx = 19
  private val CtxRl = 17
  private val CtxUni = 18

  private def initStates(): (Array[Int], Array[Int]) = {
    val st = new Array[Int](NumCtx); val mps = new Array[Int](NumCtx)
    st(CtxUni) = 46; st(CtxRl) = 3; st(0) = 4 // ZC context 0 starts at state 4
    (st, mps)
  }

  // Decoder-side packed tables: per-context state is one Int `state |
  // (MPS << 7)`, so a decode touches ONE state array slot and the
  // Qe/transition lookups are single loads on the packed value. The
  // LPS-switch MPS flip is folded into NextLps's bit 7.
  // (index space is 0..255; only state <= 46 occurs — clamp the padding)
  private val QeP = Array.tabulate(256)(s => Qe(math.min(46, s & 0x7f)))
  private val NextMpsP = Array.tabulate(256)(s => (s & 0x80) | Nmps(math.min(46, s & 0x7f)))
  private val NextLpsP = Array.tabulate(256) { s =>
    val st = math.min(46, s & 0x7f)
    (if (Switch(st) == 1) (s & 0x80) ^ 0x80 else s & 0x80) | Nlps(st)
  }

  /** MQ decoder over one code-block's codeword segment; reads past the
    * segment end return 0xFF (T.88 marker-feeding convention).
    *
    * Hot-loop shape (this is the ingest path's cycle budget): Int
    * registers (T.88's C/A are 32/16-bit — the old Long register paid
    * masking on every shift), a branch-light fast path for the common
    * no-renormalization MPS decode, and renormalization batched by
    * `numberOfLeadingZeros` instead of one-bit-at-a-time (shifts between
    * byte feeds collapse to one shift). Decision-identical to the
    * one-bit reference loop — MqStressSpec's 300k-symbol round-trips and
    * the codec round-trip suite pin that. */
  private[sources] final class MqDecoder(data: Array[Byte], start: Int, end: Int) {
    // packed per-context (state, MPS); T.800 Table D.7 initial states
    private val sm = new Array[Int](NumCtx)
    sm(CtxUni) = 46; sm(CtxRl) = 3; sm(0) = 4
    private var bp = start
    private var c = 0
    private var ct = 0
    private var a = 0

    private def byteAt(i: Int): Int = if (i < end) data(i) & 0xff else 0xff

    private def byteIn(): Unit = {
      if (byteAt(bp) == 0xff) {
        if (byteAt(bp + 1) > 0x8f) { c += 0xff00; ct = 8 }
        else { bp += 1; c += byteAt(bp) << 9; ct = 7 }
      } else { bp += 1; c += byteAt(bp) << 8; ct = 8 }
    }

    // INITDEC
    c = byteAt(bp) << 16
    byteIn()
    c <<= 7; ct -= 7; a = 0x8000

    def decode(cx: Int): Int = {
      val s = sm(cx)
      val q = QeP(s)
      a -= q
      if ((c >>> 16) >= q) {
        c -= q << 16
        if ((a & 0x8000) != 0) return s >>> 7 // no-renorm MPS: the hot path
        // MPS exchange
        val mps = s >>> 7
        if (a < q) { sm(cx) = NextLpsP(s); renorm(); 1 - mps }
        else { sm(cx) = NextMpsP(s); renorm(); mps }
      } else {
        // LPS exchange
        val mps = s >>> 7
        val d = if (a < q) { sm(cx) = NextMpsP(s); mps }
        else { sm(cx) = NextLpsP(s); 1 - mps }
        a = q
        renorm()
        d
      }
    }

    private def renorm(): Unit = {
      var n = Integer.numberOfLeadingZeros(a) - 16 // shifts until bit 15 set
      while (n > 0) {
        if (ct == 0) byteIn()
        val k = if (n < ct) n else ct
        a <<= k; c <<= k; ct -= k; n -= k
      }
    }
  }

  /** MQ encoder producing one terminated codeword segment. A leading
    * carry byte (the T.88 "byte before BPST" receiving +1) is kept as
    * the segment's first byte — the segment is standalone, so the carry
    * bit must travel with it; the decoder's arithmetic absorbs it. */
  private[sources] final class MqEncoder {
    private val (st, mps) = initStates()
    private val buf = scala.collection.mutable.ArrayBuffer[Int](0) // dummy carry byte
    private var c = 0L
    private var ct = 12
    private var a = 0x8000

    def encode(cx: Int, bit: Int): Unit = {
      val q = Qe(st(cx))
      if (bit == mps(cx)) { // CODEMPS
        a -= q
        if ((a & 0x8000) == 0) {
          if (a < q) a = q else c += q
          st(cx) = Nmps(st(cx))
          renorm()
        } else c += q
      } else { // CODELPS
        a -= q
        if (a < q) c += q else a = q
        if (Switch(st(cx)) == 1) mps(cx) = 1 - mps(cx)
        st(cx) = Nlps(st(cx))
        renorm()
      }
    }

    private def renorm(): Unit = {
      while ({
        if (ct == 0) byteOut()
        a <<= 1; c = (c << 1) & 0xfffffffL; ct -= 1
        (a & 0x8000) == 0
      }) ()
    }

    private def byteOut(): Unit = {
      val last = buf.length - 1
      if (buf(last) == 0xff) {
        // stuffed byte: 7 payload bits PLUS the carry at the MSB (T.88
        // writes B ← C >> 20 as a full byte — range 0x00..0x80; that is
        // why the decoder's marker test after 0xFF is `> 0x8F`, not 0x7F)
        buf += ((c >>> 20) & 0xff).toInt
        c &= 0xfffff; ct = 7
      } else {
        if (c < 0x8000000L) {
          buf += ((c >>> 19) & 0xff).toInt
          c &= 0x7ffff; ct = 8
        } else {
          buf(last) += 1 // carry
          if (buf(last) == 0xff) {
            c &= 0x7ffffffL
            buf += ((c >>> 20) & 0xff).toInt
            c &= 0xfffff; ct = 7
          } else {
            buf += ((c >>> 19) & 0xff).toInt
            c &= 0x7ffff; ct = 8
          }
        }
      }
    }

    /** FLUSH (T.88 E.3.8) → the terminated segment bytes. */
    def finish(): Array[Byte] = {
      // SETBITS
      val tempC = c + a
      c |= 0xffff
      if (c >= tempC) c -= 0x8000
      c <<= ct; byteOut()
      c <<= ct; byteOut()
      // drop trailing 0xFF (decoder feeds 0xFF past the end anyway)
      var n = buf.length
      while (n > 1 && buf(n - 1) == 0xff) n -= 1
      // drop the dummy byte unless it absorbed a carry
      val from = if (buf(0) == 0) 1 else 0
      val out = new Array[Byte](n - from)
      var i = from
      while (i < n) { out(i - from) = buf(i).toByte; i += 1 }
      out
    }
  }

  // ======================================================================
  // Packet-header bit IO (T.800 B.10.1: MSB-first with 0xFF bit-stuffing —
  // a byte following 0xFF carries only 7 payload bits, MSB forced 0)
  // ======================================================================

  private[sources] final class HeaderBitReader(data: Array[Byte], var pos: Int) {
    private var cur = 0
    private var bitsLeft = 0
    private var lastByte = 0

    def nextBit(): Int = {
      if (bitsLeft == 0) {
        require(pos < data.length, "truncated packet header")
        cur = data(pos) & 0xff; pos += 1
        bitsLeft = if (lastByte == 0xff) 7 else 8
        lastByte = cur
      }
      bitsLeft -= 1
      (cur >>> bitsLeft) & 1
    }

    def readBits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }

    /** Byte-align at end of header; consumes the stuffed 0x00 the writer
      * appends when the final header byte is 0xFF. */
    def align(): Unit = {
      bitsLeft = 0
      if (lastByte == 0xff) { pos += 1; lastByte = 0 }
    }
  }

  private[sources] final class HeaderBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var bits = 0
    private var lastByte = 0

    private def room: Int = if (lastByte == 0xff) 7 else 8

    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); bits += 1
      if (bits == room) { out.write(cur); lastByte = cur; cur = 0; bits = 0 }
    }

    def writeBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit((v >>> i) & 1); i -= 1 }
    }

    def flush(): Array[Byte] = {
      if (bits > 0) {
        cur <<= (room - bits)
        out.write(cur); lastByte = cur; cur = 0; bits = 0
      }
      if (lastByte == 0xff) { out.write(0); lastByte = 0 }
      out.toByteArray
    }
  }

  // ======================================================================
  // Tag trees (T.800 B.10.2): quad-tree over code-blocks; each internal
  // node's value is the min of its children, coded progressively.
  // ======================================================================

  private[sources] final class TagTree(w: Int, h: Int) {
    // level sizes from leaves up to the 1x1 root
    private val sizes = {
      val b = IndexedSeq.newBuilder[(Int, Int)]
      var cw = math.max(1, w); var ch = math.max(1, h)
      b += ((cw, ch))
      while (cw > 1 || ch > 1) { cw = (cw + 1) / 2; ch = (ch + 1) / 2; b += ((cw, ch)) }
      b.result()
    }
    private val offs = sizes.scanLeft(0)((o, s) => o + s._1 * s._2)
    private val n = offs.last
    val value = new Array[Int](n) // encoder: set leaves via setValue, then build()
    private val low = new Array[Int](n)
    private val known = new Array[Boolean](n)

    private def nodePath(i: Int, j: Int): IndexedSeq[Int] = {
      val p = IndexedSeq.newBuilder[Int]
      var x = i; var y = j
      var lvl = 0
      while (lvl < sizes.length) {
        p += offs(lvl) + y * sizes(lvl)._1 + x
        x >>= 1; y >>= 1; lvl += 1
      }
      p.result().reverse // root first
    }

    def setValue(i: Int, j: Int, v: Int): Unit = value(i + j * sizes(0)._1) = v

    /** Fold leaf values up so internal nodes hold subtree minima. */
    def build(): Unit = {
      var lvl = 0
      while (lvl + 1 < sizes.length) {
        val (cw, ch) = sizes(lvl); val (pw, _) = sizes(lvl + 1)
        var j = 0
        while (j < ch) {
          var i = 0
          while (i < cw) {
            val p = offs(lvl + 1) + (j >> 1) * pw + (i >> 1)
            val c = offs(lvl) + j * cw + i
            if ((i % 2 == 0 && j % 2 == 0) || value(c) < value(p)) {
              if (i % 2 == 0 && j % 2 == 0) value(p) = value(c)
              else value(p) = math.min(value(p), value(c))
            }
            i += 1
          }
          j += 1
        }
        lvl += 1
      }
    }

    /** Decoder: is value(i,j) < threshold? (partial knowledge accrues) */
    def decodeThreshold(i: Int, j: Int, threshold: Int, in: HeaderBitReader): Boolean = {
      var lowBound = 0
      val path = nodePath(i, j)
      var k = 0
      var leafKnownBelow = false
      while (k < path.length) {
        val nd = path(k)
        if (low(nd) < lowBound) low(nd) = lowBound
        while (!known(nd) && low(nd) < threshold) {
          if (in.nextBit() == 1) { value(nd) = low(nd); known(nd) = true }
          else low(nd) += 1
        }
        lowBound = if (known(nd)) value(nd) else low(nd)
        if (k == path.length - 1) leafKnownBelow = known(nd) && value(nd) < threshold
        k += 1
      }
      leafKnownBelow
    }

    /** Decoder: full value of leaf (i,j) — loops thresholds until known. */
    def decodeValue(i: Int, j: Int, in: HeaderBitReader): Int = {
      var t = 1
      while (!decodeThreshold(i, j, t, in)) t += 1
      value(offs(0) + j * sizes(0)._1 + i)
    }

    /** Encoder: emit the bits a decoder needs to answer decodeThreshold. */
    def encodeThreshold(i: Int, j: Int, threshold: Int, out: HeaderBitWriter): Unit = {
      var lowBound = 0
      val path = nodePath(i, j)
      var k = 0
      while (k < path.length) {
        val nd = path(k)
        if (low(nd) < lowBound) low(nd) = lowBound
        while (!known(nd) && low(nd) < threshold) {
          if (low(nd) == value(nd)) { out.writeBit(1); known(nd) = true }
          else { out.writeBit(0); low(nd) += 1 }
        }
        lowBound = if (known(nd)) value(nd) else low(nd)
        k += 1
      }
    }

    /** Encoder: emit all bits for the full value of leaf (i,j). */
    def encodeValue(i: Int, j: Int, out: HeaderBitWriter): Unit =
      encodeThreshold(i, j, value(offs(0) + j * sizes(0)._1 + i) + 1, out)
  }

  // ======================================================================
  // EBCOT Tier-1 (T.800 annex D): per-code-block bitplane coding in
  // stripe-of-4 column scan, three passes per plane (significance
  // propagation, magnitude refinement, cleanup with run-length mode).
  // State lives in (w+2)*(h+2)-padded flag planes so neighbor reads
  // need no bounds checks.
  // ======================================================================

  // Packed per-coefficient state word (openjpeg-style flags): context
  // formation becomes a 256-entry LUT lookup on the own word instead of
  // eight neighbor loads; setSig pushes direction bits into the eight
  // neighbors' words. Padded (w+2)*(h+2) layout absorbs edge writes.
  private val FSig = 1 << 0
  private val FVis = 1 << 1
  private val FRef = 1 << 2
  // neighbor-significant bits 3-10: N,E,S,W,NE,SE,SW,NW (LUT index order)
  private val FNbMask = 0xff << 3
  // neighbor-sign bits 11-14: N,E,S,W negative
  private val FNeg = 1 << 15 // own sign

  /** Zero-coding context LUT per orientation (T.800 Table D.1), indexed
    * by the 8 neighbor-significance bits. */
  private val ZcLut: Array[Array[Int]] = Array.tabulate(4, 256) { (orient, bits) =>
    val n = bits & 1; val e = (bits >> 1) & 1
    val sS = (bits >> 2) & 1; val wW = (bits >> 3) & 1
    val d = ((bits >> 4) & 1) + ((bits >> 5) & 1) + ((bits >> 6) & 1) + ((bits >> 7) & 1)
    val hC = e + wW; val vC = n + sS
    if (orient == 3) { // HH: keyed on D then H+V
      val hv = hC + vC
      if (d >= 3) 8
      else if (d == 2) { if (hv >= 1) 7 else 6 }
      else if (d == 1) { if (hv >= 2) 5 else if (hv == 1) 4 else 3 }
      else { if (hv >= 2) 2 else if (hv == 1) 1 else 0 }
    } else {
      // LL/LH use (H,V,D); HL is the same table with H and V swapped
      val (hh, vv) = if (orient == 1) (vC, hC) else (hC, vC)
      if (hh == 2) 8
      else if (hh == 1) { if (vv >= 1) 7 else if (d >= 1) 6 else 5 }
      else {
        if (vv == 2) 4 else if (vv == 1) 3
        else if (d >= 2) 2 else if (d == 1) 1 else 0
      }
    }
  }

  /** Sign-coding LUT (T.800 Table D.3) packed `(ctx << 1) | xor`, indexed
    * by NESW significance (low nibble) and NESW negative-sign (high). */
  private val ScLut: Array[Int] = Array.tabulate(256) { bits =>
    def contrib(sig: Int, sgn: Int): Int = if (sig == 0) 0 else if (sgn == 1) -1 else 1
    val n = contrib(bits & 1, (bits >> 4) & 1)
    val e = contrib((bits >> 1) & 1, (bits >> 5) & 1)
    val sS = contrib((bits >> 2) & 1, (bits >> 6) & 1)
    val wW = contrib((bits >> 3) & 1, (bits >> 7) & 1)
    val hC = math.max(-1, math.min(1, e + wW))
    val vC = math.max(-1, math.min(1, n + sS))
    (hC: @unchecked) match {
      case 1 => vC match { case 1 => 13 << 1; case 0 => 12 << 1; case _ => 11 << 1 }
      case 0 => vC match { case 1 => 10 << 1; case 0 => 9 << 1; case _ => (10 << 1) | 1 }
      case -1 => vC match { case 1 => (11 << 1) | 1; case 0 => (12 << 1) | 1; case _ => (13 << 1) | 1 }
    }
  }

  private final class T1Block(w: Int, h: Int, orient: Int) {
    val stride = w + 2
    val mag = new Array[Int](w * h)
    val flags = new Array[Int](stride * (h + 2))
    private val zcTab = ZcLut(orient)

    @inline def pad(x: Int, y: Int): Int = (y + 1) * stride + (x + 1)
    @inline def zc(f: Int): Int = zcTab((f >>> 3) & 0xff)
    @inline def sc(f: Int): Int = ScLut(((f >>> 3) & 0xf) | ((f >>> 7) & 0xf0))

    /** Mark p significant (sign `negative`), updating the eight
      * neighbors' cached direction bits. */
    def setSig(p: Int, negative: Boolean): Unit = {
      flags(p) |= (if (negative) FSig | FNeg else FSig)
      val sgn = if (negative) 1 else 0
      flags(p - stride) |= (1 << 5) | (sgn << 13) // I am its S
      flags(p + stride) |= (1 << 3) | (sgn << 11) // I am its N
      flags(p - 1) |= (1 << 4) | (sgn << 12) // I am its E
      flags(p + 1) |= (1 << 6) | (sgn << 14) // I am its W
      flags(p - stride - 1) |= 1 << 8 // its SE
      flags(p - stride + 1) |= 1 << 9 // its SW
      flags(p + stride - 1) |= 1 << 7 // its NE
      flags(p + stride + 1) |= 1 << 10 // its NW
    }

    def clearVisited(): Unit = {
      var i = 0
      while (i < flags.length) { flags(i) &= ~FVis; i += 1 }
    }
  }

  /** Decode one code-block's codeword segment -> signed coefficients. */
  private def t1Decode(w: Int, h: Int, orient: Int, data: Array[Byte],
                       from: Int, until: Int, numPasses: Int,
                       msbPlane: Int): Array[Int] = {
    val t = new T1Block(w, h, orient)
    val mq = new MqDecoder(data, from, until)
    var pass = 0
    while (pass < numPasses) {
      val plane = if (pass == 0) msbPlane else msbPlane - 1 - (pass - 1) / 3
      require(plane >= 0, s"coding pass $pass underruns bitplane 0 " +
        s"($numPasses passes for ${msbPlane + 1} planes)")
      val kind = if (pass == 0) 2 else (pass - 1) % 3
      // Pass loops walk stripe columns additively (no pad() multiply per
      // visit) and skip a whole column of 4 with one OR+test when it can
      // code nothing — EXACT skips, not heuristics: in SPP a column with
      // no significant neighbor bits at entry cannot become eligible
      // during its own scan (eligibility comes from prior-in-scan-order
      // setSig, which this column didn't do), and FSig never changes
      // during MRP. ~45 sweeps/block on 16-bit data make this sweep cost
      // the decode throughput floor (CodecBench).
      val flags = t.flags; val mag = t.mag; val stride = t.stride
      kind match {
        case 0 => // significance propagation
          var s = 0
          while (s < h) {
            val rows = math.min(4, h - s)
            var x = 0
            var p0 = t.pad(x, s)
            var m0 = s * w + x
            while (x < w) {
              var any = flags(p0)
              var r = 1
              while (r < rows) { any |= flags(p0 + r * stride); r += 1 }
              if ((any & FNbMask) != 0) {
                var p = p0; var m = m0; var r2 = 0
                while (r2 < rows) {
                  val f = flags(p)
                  if ((f & FSig) == 0 && (f & FNbMask) != 0) {
                    flags(p) = f | FVis
                    if (mq.decode(t.zc(f)) == 1) {
                      val sx = t.sc(f)
                      val neg = (mq.decode(sx >>> 1) ^ (sx & 1)) == 1
                      t.setSig(p, neg)
                      mag(m) |= 1 << plane
                    }
                  }
                  p += stride; m += w; r2 += 1
                }
              }
              x += 1; p0 += 1; m0 += 1
            }
            s += 4
          }
        case 1 => // magnitude refinement
          var s = 0
          while (s < h) {
            val rows = math.min(4, h - s)
            var x = 0
            var p0 = t.pad(x, s)
            var m0 = s * w + x
            while (x < w) {
              var any = flags(p0)
              var r = 1
              while (r < rows) { any |= flags(p0 + r * stride); r += 1 }
              if ((any & FSig) != 0) {
                var p = p0; var m = m0; var r2 = 0
                while (r2 < rows) {
                  val f = flags(p)
                  if ((f & (FSig | FVis)) == FSig) {
                    val ctx = if ((f & FRef) != 0) 16
                    else if ((f & FNbMask) != 0) 15 else 14
                    mag(m) |= mq.decode(ctx) << plane
                    flags(p) = f | FRef
                  }
                  p += stride; m += w; r2 += 1
                }
              }
              x += 1; p0 += 1; m0 += 1
            }
            s += 4
          }
        case 2 => // cleanup (with run-length mode)
          var s = 0
          while (s < h) {
            val rows = math.min(4, h - s)
            var x = 0
            var p0 = t.pad(x, s)
            var m0 = s * w + x
            while (x < w) {
              var y = 0
              if (rows == 4 &&
                ((flags(p0) | flags(p0 + stride) | flags(p0 + 2 * stride) |
                  flags(p0 + 3 * stride)) & 0x7ff) == 0) {
                if (mq.decode(CtxRl) == 0) y = rows // whole column stays zero
                else {
                  val k = (mq.decode(CtxUni) << 1) | mq.decode(CtxUni)
                  y = k
                  val p = p0 + y * stride
                  val sx = t.sc(flags(p))
                  val neg = (mq.decode(sx >>> 1) ^ (sx & 1)) == 1
                  t.setSig(p, neg)
                  mag(m0 + y * w) |= 1 << plane
                  y += 1
                }
              }
              var p = p0 + y * stride; var m = m0 + y * w
              while (y < rows) {
                val f = flags(p)
                if ((f & (FSig | FVis)) == 0) {
                  if (mq.decode(t.zc(f)) == 1) {
                    val sx = t.sc(f)
                    val neg = (mq.decode(sx >>> 1) ^ (sx & 1)) == 1
                    t.setSig(p, neg)
                    mag(m) |= 1 << plane
                  }
                }
                p += stride; m += w; y += 1
              }
              x += 1; p0 += 1; m0 += 1
            }
            s += 4
          }
          t.clearVisited()
      }
      pass += 1
    }
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val m = t.mag(y * w + x)
        out(y * w + x) = if ((t.flags(t.pad(x, y)) & FNeg) != 0) -m else m
        x += 1
      }
      y += 1
    }
    out
  }

  /** Encode one code-block -> (terminated MQ segment, pass count). `k` is
    * the number of coded bitplanes (MSB position + 1 over |coeffs|). */
  private def t1Encode(w: Int, h: Int, orient: Int, coeffs: Array[Int],
                       k: Int): (Array[Byte], Int) = {
    val t = new T1Block(w, h, orient)
    var i = 0
    while (i < coeffs.length) {
      val v = coeffs(i)
      t.mag(i) = math.abs(v)
      // own-sign bit only; neighbor sign bits propagate via setSig
      if (v < 0) t.flags(t.pad(i % w, i / w)) |= FNeg
      i += 1
    }
    val mq = new MqEncoder
    val numPasses = 3 * k - 2
    var pass = 0
    while (pass < numPasses) {
      val plane = if (pass == 0) k - 1 else k - 2 - (pass - 1) / 3
      val kind = if (pass == 0) 2 else (pass - 1) % 3
      kind match {
        case 0 => // significance propagation
          var s = 0
          while (s < h) {
            var x = 0
            while (x < w) {
              var y = s
              val yEnd = math.min(s + 4, h)
              while (y < yEnd) {
                val p = t.pad(x, y)
                val f = t.flags(p)
                if ((f & FSig) == 0 && (f & FNbMask) != 0) {
                  t.flags(p) = f | FVis
                  val bit = (t.mag(y * w + x) >>> plane) & 1
                  mq.encode(t.zc(f), bit)
                  if (bit == 1) {
                    val neg = (f & FNeg) != 0
                    val sx = t.sc(f)
                    mq.encode(sx >>> 1, (if (neg) 1 else 0) ^ (sx & 1))
                    t.setSig(p, neg)
                  }
                }
                y += 1
              }
              x += 1
            }
            s += 4
          }
        case 1 => // magnitude refinement
          var s = 0
          while (s < h) {
            var x = 0
            while (x < w) {
              var y = s
              val yEnd = math.min(s + 4, h)
              while (y < yEnd) {
                val p = t.pad(x, y)
                val f = t.flags(p)
                if ((f & (FSig | FVis)) == FSig) {
                  val ctx = if ((f & FRef) != 0) 16
                  else if ((f & FNbMask) != 0) 15 else 14
                  mq.encode(ctx, (t.mag(y * w + x) >>> plane) & 1)
                  t.flags(p) = f | FRef
                }
                y += 1
              }
              x += 1
            }
            s += 4
          }
        case 2 => // cleanup
          var s = 0
          while (s < h) {
            var x = 0
            while (x < w) {
              var y = s
              val yEnd = math.min(s + 4, h)
              if (s + 4 <= h &&
                ((t.flags(t.pad(x, s)) | t.flags(t.pad(x, s + 1)) |
                  t.flags(t.pad(x, s + 2)) | t.flags(t.pad(x, s + 3))) & 0x7ff) == 0) {
                var first = -1
                var j = 0
                while (first < 0 && j < 4) {
                  if (((t.mag((s + j) * w + x) >>> plane) & 1) == 1) first = j
                  j += 1
                }
                if (first < 0) { mq.encode(CtxRl, 0); y = yEnd }
                else {
                  mq.encode(CtxRl, 1)
                  mq.encode(CtxUni, (first >>> 1) & 1)
                  mq.encode(CtxUni, first & 1)
                  y = s + first
                  val p = t.pad(x, y)
                  val f = t.flags(p)
                  val neg = (f & FNeg) != 0
                  val sx = t.sc(f)
                  mq.encode(sx >>> 1, (if (neg) 1 else 0) ^ (sx & 1))
                  t.setSig(p, neg)
                  y += 1
                }
              }
              while (y < yEnd) {
                val p = t.pad(x, y)
                val f = t.flags(p)
                if ((f & (FSig | FVis)) == 0) {
                  val bit = (t.mag(y * w + x) >>> plane) & 1
                  mq.encode(t.zc(f), bit)
                  if (bit == 1) {
                    val neg = (f & FNeg) != 0
                    val sx = t.sc(f)
                    mq.encode(sx >>> 1, (if (neg) 1 else 0) ^ (sx & 1))
                    t.setSig(p, neg)
                  }
                }
                y += 1
              }
              x += 1
            }
            s += 4
          }
          t.clearVisited()
      }
      pass += 1
    }
    (mq.finish(), numPasses)
  }

  // ======================================================================
  // Reversible 5/3 wavelet (T.800 annex F): lifting on interleaved
  // signals (even = lowpass, odd = highpass) with symmetric extension.
  // Forward = vertical then horizontal; inverse mirrors (F.3.5).
  // ======================================================================

  @inline private def refl(i: Int, n: Int): Int =
    if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i

  /** In-place inverse 5/3 lifting on interleaved t(0 until n). */
  private[sources] def inv53(t: Array[Int], n: Int): Unit = {
    if (n <= 1) return
    @inline def at(i: Int): Int = t(refl(i, n))
    var i = 0
    while (i < n) { t(i) -= (at(i - 1) + at(i + 1) + 2) >> 2; i += 2 }
    i = 1
    while (i < n) { t(i) += (at(i - 1) + at(i + 1)) >> 1; i += 2 }
  }

  /** In-place forward 5/3 lifting on interleaved t(0 until n). */
  private[sources] def fwd53(t: Array[Int], n: Int): Unit = {
    if (n <= 1) return
    @inline def at(i: Int): Int = t(refl(i, n))
    var i = 1
    while (i < n) { t(i) -= (at(i - 1) + at(i + 1)) >> 1; i += 2 }
    i = 0
    while (i < n) { t(i) += (at(i - 1) + at(i + 1) + 2) >> 2; i += 2 }
  }

  /** One forward level: a (w×h, row-major) → (LL, HL, LH, HH). */
  private def fdwtLevel(a: Array[Int], w: Int, h: Int)
      : (Array[Int], Array[Int], Array[Int], Array[Int]) = {
    val col = new Array[Int](h)
    var x = 0
    while (x < w) { // vertical pass
      var y = 0
      while (y < h) { col(y) = a(y * w + x); y += 1 }
      fwd53(col, h)
      y = 0
      while (y < h) { a(y * w + x) = col(y); y += 1 }
      x += 1
    }
    val row = new Array[Int](w)
    var y = 0
    while (y < h) { // horizontal pass
      System.arraycopy(a, y * w, row, 0, w)
      fwd53(row, w)
      System.arraycopy(row, 0, a, y * w, w)
      y += 1
    }
    val lw = (w + 1) / 2; val hw = w / 2
    val lh = (h + 1) / 2; val hh = h / 2
    val ll = new Array[Int](lw * lh); val hl = new Array[Int](hw * lh)
    val lhB = new Array[Int](lw * hh); val hhB = new Array[Int](hw * hh)
    y = 0
    while (y < h) {
      var xx = 0
      while (xx < w) {
        val v = a(y * w + xx)
        if (y % 2 == 0) { if (xx % 2 == 0) ll((y / 2) * lw + xx / 2) = v else hl((y / 2) * hw + xx / 2) = v }
        else { if (xx % 2 == 0) lhB((y / 2) * lw + xx / 2) = v else hhB((y / 2) * hw + xx / 2) = v }
        xx += 1
      }
      y += 1
    }
    (ll, hl, lhB, hhB)
  }

  /** One inverse level: subbands → the (w×h) parent plane. */
  private def idwtLevel(ll: Array[Int], hl: Array[Int], lh: Array[Int],
                        hh: Array[Int], w: Int, h: Int): Array[Int] = {
    val lw = (w + 1) / 2; val hw = w / 2
    val a = new Array[Int](w * h)
    var y = 0
    while (y < h) { // re-interleave
      var x = 0
      while (x < w) {
        a(y * w + x) =
          if (y % 2 == 0) { if (x % 2 == 0) ll((y / 2) * lw + x / 2) else hl((y / 2) * hw + x / 2) }
          else { if (x % 2 == 0) lh((y / 2) * lw + x / 2) else hh((y / 2) * hw + x / 2) }
        x += 1
      }
      y += 1
    }
    val row = new Array[Int](w)
    y = 0
    while (y < h) { // horizontal first (inverse of fdwt's order)
      System.arraycopy(a, y * w, row, 0, w)
      inv53(row, w)
      System.arraycopy(row, 0, a, y * w, w)
      y += 1
    }
    val col = new Array[Int](h)
    var x = 0
    while (x < w) {
      var yy = 0
      while (yy < h) { col(yy) = a(yy * w + x); yy += 1 }
      inv53(col, h)
      yy = 0
      while (yy < h) { a(yy * w + x) = col(yy); yy += 1 }
      x += 1
    }
    a
  }

  // ======================================================================
  // Irreversible 9/7 wavelet (T.800 annex F, F.4.8): four lifting steps
  // plus the K scaling, on doubles with the same symmetric extension as
  // 5/3. Scaling convention: lowpass × 1/K, highpass × K — this is what
  // makes the subband nominal gains come out as GainByOrient's 1/2/2/4
  // (the unscaled lowpass DC gain on a constant signal is exactly K =
  // 1.230174…, and the unscaled highpass Nyquist gain is 2/K).
  // ======================================================================

  private val W97a = -1.586134342059924 // step 1 (odd)
  private val W97b = -0.052980118572961 // step 2 (even)
  private val W97g = 0.882911075530934 // step 3 (odd)
  private val W97d = 0.443506852043971 // step 4 (even)
  private val W97k = 1.230174104914001 // scaling

  /** In-place forward 9/7 lifting on interleaved t(0 until n). */
  private[sources] def fwd97(t: Array[Double], n: Int): Unit = {
    if (n <= 1) return
    @inline def at(i: Int): Double = t(refl(i, n))
    var i = 1
    while (i < n) { t(i) += W97a * (at(i - 1) + at(i + 1)); i += 2 }
    i = 0
    while (i < n) { t(i) += W97b * (at(i - 1) + at(i + 1)); i += 2 }
    i = 1
    while (i < n) { t(i) += W97g * (at(i - 1) + at(i + 1)); i += 2 }
    i = 0
    while (i < n) { t(i) += W97d * (at(i - 1) + at(i + 1)); i += 2 }
    i = 0
    while (i < n) { t(i) /= W97k; i += 2 }
    i = 1
    while (i < n) { t(i) *= W97k; i += 2 }
  }

  /** In-place inverse 9/7 lifting on interleaved t(0 until n). */
  private[sources] def inv97(t: Array[Double], n: Int): Unit = {
    if (n <= 1) return
    @inline def at(i: Int): Double = t(refl(i, n))
    var i = 0
    while (i < n) { t(i) *= W97k; i += 2 }
    i = 1
    while (i < n) { t(i) /= W97k; i += 2 }
    i = 0
    while (i < n) { t(i) -= W97d * (at(i - 1) + at(i + 1)); i += 2 }
    i = 1
    while (i < n) { t(i) -= W97g * (at(i - 1) + at(i + 1)); i += 2 }
    i = 0
    while (i < n) { t(i) -= W97b * (at(i - 1) + at(i + 1)); i += 2 }
    i = 1
    while (i < n) { t(i) -= W97a * (at(i - 1) + at(i + 1)); i += 2 }
  }

  /** One forward 9/7 level: a (w×h, row-major) → (LL, HL, LH, HH). */
  private def fdwt97Level(a: Array[Double], w: Int, h: Int)
      : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val col = new Array[Double](h)
    var x = 0
    while (x < w) { // vertical pass
      var y = 0
      while (y < h) { col(y) = a(y * w + x); y += 1 }
      fwd97(col, h)
      y = 0
      while (y < h) { a(y * w + x) = col(y); y += 1 }
      x += 1
    }
    val row = new Array[Double](w)
    var y = 0
    while (y < h) { // horizontal pass
      System.arraycopy(a, y * w, row, 0, w)
      fwd97(row, w)
      System.arraycopy(row, 0, a, y * w, w)
      y += 1
    }
    val lw = (w + 1) / 2; val hw = w / 2
    val lh = (h + 1) / 2; val hh = h / 2
    val ll = new Array[Double](lw * lh); val hl = new Array[Double](hw * lh)
    val lhB = new Array[Double](lw * hh); val hhB = new Array[Double](hw * hh)
    y = 0
    while (y < h) {
      var xx = 0
      while (xx < w) {
        val v = a(y * w + xx)
        if (y % 2 == 0) { if (xx % 2 == 0) ll((y / 2) * lw + xx / 2) = v else hl((y / 2) * hw + xx / 2) = v }
        else { if (xx % 2 == 0) lhB((y / 2) * lw + xx / 2) = v else hhB((y / 2) * hw + xx / 2) = v }
        xx += 1
      }
      y += 1
    }
    (ll, hl, lhB, hhB)
  }

  /** One inverse 9/7 level: subbands → the (w×h) parent plane. */
  private def idwt97Level(ll: Array[Double], hl: Array[Double], lh: Array[Double],
                          hh: Array[Double], w: Int, h: Int): Array[Double] = {
    val lw = (w + 1) / 2; val hw = w / 2
    val a = new Array[Double](w * h)
    var y = 0
    while (y < h) { // re-interleave
      var x = 0
      while (x < w) {
        a(y * w + x) =
          if (y % 2 == 0) { if (x % 2 == 0) ll((y / 2) * lw + x / 2) else hl((y / 2) * hw + x / 2) }
          else { if (x % 2 == 0) lh((y / 2) * lw + x / 2) else hh((y / 2) * hw + x / 2) }
        x += 1
      }
      y += 1
    }
    val row = new Array[Double](w)
    y = 0
    while (y < h) { // horizontal first (inverse of fdwt's order)
      System.arraycopy(a, y * w, row, 0, w)
      inv97(row, w)
      System.arraycopy(row, 0, a, y * w, w)
      y += 1
    }
    val col = new Array[Double](h)
    var x = 0
    while (x < w) {
      var yy = 0
      while (yy < h) { col(yy) = a(yy * w + x); yy += 1 }
      inv97(col, h)
      yy = 0
      while (yy < h) { a(yy * w + x) = col(yy); yy += 1 }
      x += 1
    }
    a
  }

  // ======================================================================
  // Codestream (T.800 annex A markers, B.10 packets)
  // ======================================================================

  private val GainByOrient = Array(0, 1, 1, 2) // LL, HL, LH, HH (E.1)

  /** One subband's geometry at a given resolution. */
  private final case class Band(orient: Int, w: Int, h: Int, epsIdx: Int)

  /** ws(k) = component width after k halvings; bands in packet order. */
  private def bandsAt(r: Int, nl: Int, ws: Array[Int], hs: Array[Int]): Seq[Band] =
    if (r == 0) Seq(Band(0, ws(nl), hs(nl), 0))
    else {
      val d = nl - r + 1 // decomposition level of this resolution's bands
      val e = 3 * (r - 1) + 1
      Seq(Band(1, ws(d - 1) - ws(d), hs(d), e),
        Band(2, ws(d), hs(d - 1) - hs(d), e + 1),
        Band(3, ws(d - 1) - ws(d), hs(d - 1) - hs(d), e + 2))
    }

  private def be2(b: Array[Byte], p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  private def be4(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)

  private def log2floor(n: Int): Int = 31 - Integer.numberOfLeadingZeros(n)

  private def decodePassCount(in: HeaderBitReader): Int = {
    if (in.nextBit() == 0) return 1
    if (in.nextBit() == 0) return 2
    val v2 = in.readBits(2)
    if (v2 < 3) return 3 + v2
    val v5 = in.readBits(5)
    if (v5 < 31) return 6 + v5
    37 + in.readBits(7)
  }

  private def encodePassCount(n: Int, out: HeaderBitWriter): Unit = {
    require(n >= 1 && n <= 164, s"pass count $n out of range")
    if (n == 1) out.writeBit(0)
    else if (n == 2) { out.writeBit(1); out.writeBit(0) }
    else if (n <= 5) { out.writeBits(3, 2); out.writeBits(n - 3, 2) }
    else if (n <= 36) { out.writeBits(0xf, 4); out.writeBits(n - 6, 5) }
    else { out.writeBits(0x1ff, 9); out.writeBits(n - 37, 7) }
  }

  /** Decode a raw JPEG 2000 codestream (SOC..EOC). */
  def decode(bytes: Array[Byte]): Image = {
    require(bytes.length >= 4 && be2(bytes, 0) == 0xff4f, "not a JPEG 2000 codestream (no SOC)")
    var pos = 2
    var w = -1; var h = -1; var depth = -1; var signed = false
    var nl = -1; var xcb = -1; var ycb = -1
    var guard = -1; var eps: Array[Int] = null; var mus: Array[Int] = null
    var qStyle = -1; var reversible = true
    var inTile = false
    while (!inTile) {
      require(pos + 4 <= bytes.length, "truncated codestream (no SOT/SOD)")
      val marker = be2(bytes, pos)
      val len = be2(bytes, pos + 2)
      marker match {
        case 0xff51 => // SIZ (any Rsiz capability accepted)
          w = be4(bytes, pos + 6); h = be4(bytes, pos + 10)
          // allocation guard ahead of the w*h coefficient arrays: a
          // corrupt SIZ must throw, not OOM (64M samples is far beyond
          // any single-tile frame this profile accepts)
          require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
            s"implausible image size ${w}x$h — corrupt SIZ or out-of-profile stream")
          // one-packet-per-resolution parsing assumes a single precinct:
          // the default precinct is 2^15, so either dimension past 32768
          // would yield multiple packets and misparse — fail by name instead
          require(w <= 32768 && h <= 32768,
            s"image ${w}x$h spans multiple precincts per resolution — transcode first")
          require(be4(bytes, pos + 14) == 0 && be4(bytes, pos + 18) == 0,
            "image offsets (XOsiz/YOsiz) unsupported — transcode first")
          require(be4(bytes, pos + 22) >= w && be4(bytes, pos + 26) >= h &&
            be4(bytes, pos + 30) == 0 && be4(bytes, pos + 34) == 0,
            "multi-tile codestreams unsupported — transcode first")
          require(be2(bytes, pos + 38) == 1,
            "multi-component codestreams unsupported — transcode first")
          val ssiz = bytes(pos + 40) & 0xff
          depth = (ssiz & 0x7f) + 1; signed = (ssiz & 0x80) != 0
          require(depth <= 16, s"precision $depth > 16 unsupported")
          require((bytes(pos + 41) & 0xff) == 1 && (bytes(pos + 42) & 0xff) == 1,
            "subsampled components unsupported — transcode first")
        case 0xff52 => // COD
          val scod = bytes(pos + 4) & 0xff
          require(scod == 0,
            "custom precincts / SOP / EPH (Scod != 0) unsupported — transcode first")
          require(be2(bytes, pos + 6) == 1, "multi-layer codestreams unsupported")
          require((bytes(pos + 8) & 0xff) == 0, "multi-component transform on 1 component")
          nl = bytes(pos + 9) & 0xff
          require(nl <= 32, s"implausible decomposition level count $nl")
          xcb = ((bytes(pos + 10) & 0x0f) + 2); ycb = ((bytes(pos + 11) & 0x0f) + 2)
          require(xcb + ycb <= 12, s"code-block ${1 << xcb}x${1 << ycb} exceeds 4096 samples")
          require((bytes(pos + 12) & 0xff) == 0,
            "code-block style extensions (bypass/termall/...) unsupported — transcode first")
          val wt = bytes(pos + 13) & 0xff
          require(wt == 0 || wt == 1, s"unknown wavelet transform $wt — corrupt COD")
          reversible = wt == 1
        case 0xff5c => // QCD (T.800 A.6.4): style 0 = no quantization
          // (8-bit exponents, reversible 5/3), 1 = scalar derived (one
          // 16-bit eps/mu pair), 2 = scalar expounded (one pair per band)
          val sqcd = bytes(pos + 4) & 0xff
          qStyle = sqcd & 0x1f
          guard = sqcd >>> 5
          qStyle match {
            case 0 =>
              eps = Array.tabulate(len - 3)(i => (bytes(pos + 5 + i) & 0xff) >>> 3)
              mus = new Array[Int](eps.length)
            case 1 | 2 =>
              require((len - 3) % 2 == 0 && len - 3 >= 2, "malformed quantized QCD")
              // scalar DERIVED means exactly one (eps, mu) pair (T.800
              // A.6.4); extra trailing pairs are a malformed stream — fail
              // by name rather than silently decoding from a partial read
              require(qStyle != 1 || len - 3 == 2,
                s"scalar-derived QCD (Sqcd style 1) carries ${(len - 3) / 2} (eps,mu) pairs, want exactly 1 — corrupt QCD")
              val vals = Array.tabulate((len - 3) / 2)(i => be2(bytes, pos + 5 + 2 * i))
              eps = vals.map(_ >>> 11)
              mus = vals.map(_ & 0x7ff)
            case s => throw new IllegalArgumentException(
              s"quantization style $s unsupported — transcode first")
          }
        case 0xff90 => // SOT: Isot(2) Psot(4) TPsot(1) TNsot(1)
          require((bytes(pos + 10) & 0xff) == 0, "multiple tile-parts unsupported")
        case 0xff93 => // SOD
          inTile = true
        case 0xff53 | 0xff5d | 0xff5e | 0xff5f | 0xff60 | 0xff61 =>
          throw new IllegalArgumentException(
            f"marker 0x$marker%04x (COC/QCC/RGN/POC/PPM/PPT) unsupported — transcode first")
        case _ => () // COM, CRG, TLM, PLM, PLT, ... skipped
      }
      pos += (if (marker == 0xff93) 2 else 2 + len)
    }
    require(w > 0 && h > 0 && depth > 0, "missing SIZ before SOD")
    require(nl >= 0, "missing COD before SOD")
    require(eps != null, "missing QCD before SOD")
    // quantization is defined for the irreversible transform only: a 9/7
    // stream without it (or a 5/3 stream with it) is corrupt/out-of-profile
    require(reversible == (qStyle == 0),
      if (reversible) "5/3 reversible stream carries a quantized QCD — corrupt or out-of-profile"
      else "9/7 irreversible stream without quantization (Sqcd style 0) — corrupt or out-of-profile")
    if (qStyle == 1) {
      // scalar derived (E.1, eq. E-5): one (eps, mu) pair; band exponents
      // derive from the number of decomposition levels between it and LL
      val e0 = eps(0); val m0 = mus(0)
      eps = new Array[Int](3 * nl + 1); mus = Array.fill(3 * nl + 1)(m0)
      eps(0) = e0
      for (r <- 1 to nl; o <- 1 to 3) eps(3 * (r - 1) + o) = e0 + 1 - r
      require(eps.forall(_ >= 0),
        s"derived quantization exponent underflows at $nl levels — corrupt QCD")
    }
    require(eps.length >= 3 * nl + 1, "missing/short QCD before SOD")

    val ws = new Array[Int](nl + 1); val hs = new Array[Int](nl + 1)
    ws(0) = w; hs(0) = h
    for (k <- 1 to nl) { ws(k) = (ws(k - 1) + 1) / 2; hs(k) = (hs(k - 1) + 1) / 2 }
    val cbw = 1 << xcb; val cbh = 1 << ycb

    // bandKey (r, orientIdx) → coefficient plane
    val planes = scala.collection.mutable.Map[(Int, Int), Array[Int]]()

    for (r <- 0 to nl) {
      val bands = bandsAt(r, nl, ws, hs)
      bands.foreach(b => planes((r, b.orient)) = new Array[Int](math.max(0, b.w * b.h)))
      val in = new HeaderBitReader(bytes, pos)
      val blocks = scala.collection.mutable.ArrayBuffer[(Band, Int, Int, Int, Int, Int)]()
      if (in.nextBit() == 1) {
        for (b <- bands if b.w > 0 && b.h > 0) {
          val nbx = (b.w + cbw - 1) / cbw; val nby = (b.h + cbh - 1) / cbh
          val incl = new TagTree(nbx, nby); val zbp = new TagTree(nbx, nby)
          for (cy <- 0 until nby; cx <- 0 until nbx) {
            if (incl.decodeThreshold(cx, cy, 1, in)) {
              val p = zbp.decodeValue(cx, cy, in)
              val np = decodePassCount(in)
              var lblock = 3
              while (in.nextBit() == 1) lblock += 1
              val segLen = in.readBits(lblock + log2floor(np))
              blocks += ((b, cx, cy, p, np, segLen))
            }
          }
        }
      }
      in.align()
      pos = in.pos
      for ((b, cx, cy, p, np, segLen) <- blocks) {
        val mb = guard + eps(b.epsIdx) - 1
        // a hostile QCD can push eps to 31 and guard to 7 → mb up to 37;
        // '1 << plane' in t1Decode wraps past 31 (JVM shifts are mod 32),
        // so bound Mb to what an Int coefficient plane can actually hold
        require(mb <= 31,
          s"Mb=$mb bitplanes exceed 32-bit coefficients — corrupt QCD/out-of-profile")
        val msb = mb - p - 1
        require(msb >= 0, s"zero-bitplane count $p exceeds Mb=$mb")
        val bw = math.min(cbw, b.w - cx * cbw); val bh = math.min(cbh, b.h - cy * cbh)
        val coeffs = t1Decode(bw, bh, b.orient, bytes, pos, pos + segLen, np, msb)
        val plane = planes((r, b.orient))
        var yy = 0
        while (yy < bh) {
          var xx = 0
          while (xx < bw) {
            plane((cy * cbh + yy) * b.w + cx * cbw + xx) = coeffs(yy * bw + xx)
            xx += 1
          }
          yy += 1
        }
        pos += segLen
      }
    }

    if (reversible) {
      // inverse DWT from the coarsest level back to full resolution
      var ll = planes((0, 0))
      for (r <- 1 to nl) {
        val d = nl - r + 1
        ll = idwtLevel(ll, planes((r, 1)), planes((r, 2)), planes((r, 3)),
          ws(d - 1), hs(d - 1))
      }
      if (!signed) {
        val shift = 1 << (depth - 1); val max = (1 << depth) - 1
        var i = 0
        while (i < ll.length) { ll(i) = math.max(0, math.min(max, ll(i) + shift)); i += 1 }
      }
      Image(w, h, depth, signed, ll)
    } else {
      // dequantize (E.1.2, midpoint reconstruction r = 0.5: the quantizer
      // is a deadzone floor, so the decoded magnitude names the interval
      // [qΔ, (q+1)Δ) and its midpoint minimizes reconstruction error),
      // then the 9/7 inverse DWT on doubles
      val dplanes = scala.collection.mutable.Map[(Int, Int), Array[Double]]()
      for (r <- 0 to nl; b <- bandsAt(r, nl, ws, hs)) {
        val q = planes((r, b.orient))
        val rb = depth + GainByOrient(b.orient)
        val delta = math.pow(2.0, rb - eps(b.epsIdx)) * (1.0 + mus(b.epsIdx) / 2048.0)
        val dq = new Array[Double](q.length)
        var i = 0
        while (i < q.length) {
          val v = q(i)
          dq(i) = if (v == 0) 0.0
          else if (v > 0) (v + 0.5) * delta
          else (v - 0.5) * delta
          i += 1
        }
        dplanes((r, b.orient)) = dq
      }
      var ll = dplanes((0, 0))
      for (r <- 1 to nl) {
        val d = nl - r + 1
        ll = idwt97Level(ll, dplanes((r, 1)), dplanes((r, 2)), dplanes((r, 3)),
          ws(d - 1), hs(d - 1))
      }
      val shift = if (signed) 0 else 1 << (depth - 1)
      val lo = if (signed) -(1 << (depth - 1)) else 0
      val hi = if (signed) (1 << (depth - 1)) - 1 else (1 << depth) - 1
      val out = new Array[Int](ll.length)
      var i = 0
      while (i < out.length) {
        out(i) = math.max(lo, math.min(hi, math.round(ll(i)).toInt + shift))
        i += 1
      }
      Image(w, h, depth, signed, out)
    }
  }

  /** Encode an image as a raw lossless JPEG 2000 codestream (the
    * decoder's restricted profile: 1 tile, 1 component, 1 layer, 5/3
    * reversible, default precincts, 64×64 code-blocks, LRCP). */
  def encode(img: Image): Array[Byte] = encodeImpl(img, -1, 0)

  /** Encode with the 9/7 irreversible transform + scalar-expounded
    * quantization (the `.4.91` lossy profile the decoder accepts):
    * every band uses step size Δ = 2^deltaShift · (1 + mu/2048), i.e.
    * band exponent εb = Rb − deltaShift, mantissa μb = mu. deltaShift=0,
    * mu=0 quantizes DWT coefficients to unit steps (near-lossless);
    * larger values are genuinely lossy. The twin exists so lossy decode
    * is testable self-contained, like [[encode]] for the lossless path. */
  def encode97(img: Image, deltaShift: Int = 0, mu: Int = 0): Array[Byte] = {
    require(deltaShift >= 0 && deltaShift < img.precision,
      s"deltaShift $deltaShift out of [0, ${img.precision})")
    require(mu >= 0 && mu < 2048, s"mantissa $mu out of [0, 2048)")
    encodeImpl(img, deltaShift, mu)
  }

  /** deltaShift < 0 → 5/3 reversible; otherwise 9/7 + quantization. */
  private def encodeImpl(img: Image, deltaShift: Int, mu: Int): Array[Byte] = {
    val reversible = deltaShift < 0
    val w = img.width; val h = img.height; val depth = img.precision
    require(w > 0 && h > 0 && img.samples.length == w * h, "shape/samples mismatch")
    require(depth >= 2 && depth <= 16, s"precision $depth out of [2,16]")
    val nl = math.max(0, math.min(5, log2floor(math.min(w, h))))
    val xcb = 6; val ycb = 6 // 64×64 code-blocks
    val cbw = 1 << xcb; val cbh = 1 << ycb

    val ws = new Array[Int](nl + 1); val hs = new Array[Int](nl + 1)
    ws(0) = w; hs(0) = h
    for (k <- 1 to nl) { ws(k) = (ws(k - 1) + 1) / 2; hs(k) = (hs(k - 1) + 1) / 2 }

    // DC level shift + forward DWT; planes keyed like the decoder:
    // (resolution, orient). Lossy path: double DWT, then deadzone floor
    // quantization q = sign(y)·⌊|y|/Δ⌋ into the same integer planes the
    // Tier-1 coder consumes.
    val shift = if (img.signed) 0 else 1 << (depth - 1)
    val planes = scala.collection.mutable.Map[(Int, Int), Array[Int]]()
    if (reversible) {
      var plane = new Array[Int](w * h)
      var i = 0
      while (i < plane.length) { plane(i) = img.samples(i) - shift; i += 1 }
      for (d <- 1 to nl) {
        val r = nl - d + 1
        val (ll, hl, lh, hh) = fdwtLevel(plane, ws(d - 1), hs(d - 1))
        planes((r, 1)) = hl; planes((r, 2)) = lh; planes((r, 3)) = hh
        plane = ll
      }
      planes((0, 0)) = plane
    } else {
      val delta = math.pow(2.0, deltaShift) * (1.0 + mu / 2048.0)
      def quantize(src: Array[Double]): Array[Int] = {
        val out = new Array[Int](src.length)
        var i = 0
        while (i < src.length) {
          val v = src(i)
          val q = (math.abs(v) / delta).toInt
          out(i) = if (v < 0) -q else q
          i += 1
        }
        out
      }
      var plane = new Array[Double](w * h)
      var i = 0
      while (i < plane.length) { plane(i) = (img.samples(i) - shift).toDouble; i += 1 }
      for (d <- 1 to nl) {
        val r = nl - d + 1
        val (ll, hl, lh, hh) = fdwt97Level(plane, ws(d - 1), hs(d - 1))
        planes((r, 1)) = quantize(hl); planes((r, 2)) = quantize(lh)
        planes((r, 3)) = quantize(hh)
        plane = ll
      }
      planes((0, 0)) = quantize(plane)
    }

    // band exponents: Rb for the no-quantization style; Rb − deltaShift
    // (i.e. Δ = 2^deltaShift·(1+mu/2048)) for scalar expounded
    val qShift = if (reversible) 0 else deltaShift
    val eps = new Array[Int](3 * nl + 1)
    eps(0) = depth + GainByOrient(0) - qShift
    for (r <- 1 to nl; o <- 1 to 3) eps(3 * (r - 1) + o) = depth + GainByOrient(o) - qShift
    require(eps.forall(e => e >= 0 && e <= 31), s"band exponent out of 5-bit range")

    // Tier-1 encode every code-block; collect per-resolution block lists
    final case class Cb(band: Band, cx: Int, cy: Int, k: Int,
                        numPasses: Int, seg: Array[Byte])
    val byRes = Array.fill(nl + 1)(scala.collection.mutable.ArrayBuffer[Cb]())
    var maxOver = 0 // max k - eps over all blocks, sizes the guard bits
    for (r <- 0 to nl; b <- bandsAt(r, nl, ws, hs) if b.w > 0 && b.h > 0) {
      val src = planes((r, b.orient))
      val nbx = (b.w + cbw - 1) / cbw; val nby = (b.h + cbh - 1) / cbh
      for (cy <- 0 until nby; cx <- 0 until nbx) {
        val bw = math.min(cbw, b.w - cx * cbw); val bh = math.min(cbh, b.h - cy * cbh)
        val cf = new Array[Int](bw * bh)
        var maxMag = 0
        var yy = 0
        while (yy < bh) {
          var xx = 0
          while (xx < bw) {
            val v = src((cy * cbh + yy) * b.w + cx * cbw + xx)
            cf(yy * bw + xx) = v
            val m = math.abs(v)
            if (m > maxMag) maxMag = m
            xx += 1
          }
          yy += 1
        }
        if (maxMag > 0) {
          val k = log2floor(maxMag) + 1
          maxOver = math.max(maxOver, k - eps(b.epsIdx))
          val (seg, np) = t1Encode(bw, bh, b.orient, cf, k)
          byRes(r) += Cb(b, cx, cy, k, np, seg)
        } else byRes(r) += Cb(b, cx, cy, 0, 0, Array.emptyByteArray)
      }
    }
    val guard = math.max(2, maxOver + 1) // Mb = guard + eps - 1 ≥ k
    require(guard <= 7, s"guard bits $guard exceed the 3-bit Sqcd field")

    // Tier-2: one packet per resolution
    val body = new java.io.ByteArrayOutputStream()
    for (r <- 0 to nl) {
      val cbs = byRes(r)
      val anyIncluded = cbs.exists(_.k > 0)
      val hw = new HeaderBitWriter
      hw.writeBit(if (anyIncluded) 1 else 0)
      if (anyIncluded) {
        for (b <- bandsAt(r, nl, ws, hs) if b.w > 0 && b.h > 0) {
          val nbx = (b.w + cbw - 1) / cbw; val nby = (b.h + cbh - 1) / cbh
          val incl = new TagTree(nbx, nby); val zbp = new TagTree(nbx, nby)
          val mine = cbs.filter(_.band == b)
          mine.foreach { cb =>
            incl.setValue(cb.cx, cb.cy, if (cb.k > 0) 0 else 1)
            zbp.setValue(cb.cx, cb.cy,
              if (cb.k > 0) guard + eps(b.epsIdx) - 1 - cb.k else 0)
          }
          incl.build(); zbp.build()
          for (cy <- 0 until nby; cx <- 0 until nbx) {
            val cb = mine.find(c => c.cx == cx && c.cy == cy).get
            incl.encodeThreshold(cx, cy, 1, hw)
            if (cb.k > 0) {
              zbp.encodeValue(cx, cy, hw)
              encodePassCount(cb.numPasses, hw)
              val lenBits = math.max(1, 32 - Integer.numberOfLeadingZeros(cb.seg.length))
              val extra = math.max(0, lenBits - log2floor(cb.numPasses) - 3)
              var e = 0
              while (e < extra) { hw.writeBit(1); e += 1 }
              hw.writeBit(0)
              hw.writeBits(cb.seg.length, 3 + extra + log2floor(cb.numPasses))
            }
          }
        }
      }
      body.write(hw.flush())
      cbs.foreach(cb => if (cb.k > 0) body.write(cb.seg, 0, cb.seg.length))
    }

    // markers
    val out = new java.io.ByteArrayOutputStream()
    def w2(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def w4(v: Int): Unit = { w2(v >>> 16); w2(v & 0xffff) }
    w2(0xff4f) // SOC
    w2(0xff51); w2(41); w2(0) // SIZ
    w4(w); w4(h); w4(0); w4(0) // image, offsets
    w4(w); w4(h); w4(0); w4(0) // tile = image
    w2(1) // one component
    out.write((if (img.signed) 0x80 else 0) | (depth - 1)); out.write(1); out.write(1)
    w2(0xff52); w2(12) // COD
    out.write(0) // Scod: default precincts, no SOP/EPH
    out.write(0); w2(1); out.write(0) // LRCP, 1 layer, no MCT
    out.write(nl); out.write(xcb - 2); out.write(ycb - 2)
    out.write(0) // no code-block style extensions
    out.write(if (reversible) 1 else 0) // 5/3 reversible vs 9/7 irreversible
    if (reversible) {
      w2(0xff5c); w2(3 + eps.length) // QCD
      out.write(guard << 5) // Sqcd: no quantization, `guard` guard bits
      eps.foreach(e => out.write(e << 3))
    } else {
      w2(0xff5c); w2(3 + 2 * eps.length) // QCD
      out.write((guard << 5) | 2) // Sqcd: scalar expounded
      eps.foreach(e => w2((e << 11) | mu))
    }
    val bodyBytes = body.toByteArray
    w2(0xff90); w2(10) // SOT
    w2(0) // Isot
    w4(12 + 2 + bodyBytes.length) // Psot: SOT segment + SOD marker + packets
    out.write(0); out.write(1) // TPsot, TNsot
    w2(0xff93) // SOD
    out.write(bodyBytes, 0, bodyBytes.length)
    w2(0xffd9) // EOC
    out.toByteArray
  }
}

package graft.sources

/** Pure-JVM JPEG-LS (ITU-T T.87 / ISO 14495-1) LOSSLESS codec — no external
  * dependency, written from the public spec: LOCO-I MED prediction, 365
  * gradient contexts with bias cancellation, limited-length Golomb-Rice
  * coding, and two-mode (regular/run) coding with the 32-entry J table.
  *
  * Scope: single component (DICOM grayscale), NEAR=0 (lossless), ILV=0,
  * precision 2..16 bits. Near-lossless (NEAR>0), multi-component scans and
  * mapping tables fail loudly by name. The encoder emits an LSE marker with
  * explicit preset parameters; the decoder honors LSE and falls back to the
  * spec's default-threshold formulas (C.2.4.1.1.1) when absent, so
  * gdcm/CharLS-produced streams (which typically rely on defaults) decode.
  *
  * Used by [[Dicom]] for transfer syntax 1.2.840.10008.1.2.4.80 (JPEG-LS
  * Lossless), the syntax the reference ingests via pydicom+gdcm
  * (`setup/reformat/utils.py:132-215`).
  */
object JpegLs {

  final case class Image(width: Int, height: Int, precision: Int, samples: Array[Int])

  private val BasicT1 = 3
  private val BasicT2 = 7
  private val BasicT3 = 21
  // run-length code order table (T.87 A.7.1.1)
  private val J = Array(
    0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
    4, 4, 5, 5, 6, 6, 7, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Coding parameters (NEAR=0). Thresholds default per C.2.4.1.1.1 unless
    * preset via LSE. */
  private final class Params(val maxval: Int, presetT1: Int = -1, presetT2: Int = -1,
                             presetT3: Int = -1, presetReset: Int = -1) {
    require(maxval >= 1 && maxval <= 0xffff, s"unsupported MAXVAL $maxval")
    val range: Int = maxval + 1
    val bpp: Int = math.max(2, 32 - Integer.numberOfLeadingZeros(maxval))
    val qbpp: Int = 32 - Integer.numberOfLeadingZeros(range - 1)
    val limit: Int = 2 * (bpp + math.max(8, bpp))
    val reset: Int = if (presetReset > 0) presetReset else 64

    private def clamp1(i: Int) = if (i > maxval || i < 1) 1 else i
    private def clamp2(i: Int, t1: Int) = if (i > maxval || i < t1) t1 else i
    private def clamp3(i: Int, t2: Int) = if (i > maxval || i < t2) t2 else i
    val t1: Int = if (presetT1 > 0) presetT1 else if (maxval >= 128) {
      val f = (math.min(maxval, 4095) + 128) / 256
      clamp1(f * (BasicT1 - 2) + 2)
    } else clamp1(math.max(2, BasicT1 / (256 / (maxval + 1))))
    val t2: Int = if (presetT2 > 0) presetT2 else if (maxval >= 128) {
      val f = (math.min(maxval, 4095) + 128) / 256
      clamp2(f * (BasicT2 - 3) + 3, t1)
    } else clamp2(math.max(3, BasicT2 / (256 / (maxval + 1))), t1)
    val t3: Int = if (presetT3 > 0) presetT3 else if (maxval >= 128) {
      val f = (math.min(maxval, 4095) + 128) / 256
      clamp3(f * (BasicT3 - 4) + 4, t2)
    } else clamp3(math.max(4, BasicT3 / (256 / (maxval + 1))), t2)

    def quantize(d: Int): Int =
      if (d <= -t3) -4 else if (d <= -t2) -3 else if (d <= -t1) -2 else if (d < 0) -1
      else if (d == 0) 0
      else if (d < t1) 1 else if (d < t2) 2 else if (d < t3) 3 else 4
  }

  /** Adaptive context state (A.2.1): contexts 1..364 regular, 365/366 run
    * interruption. */
  private final class State(p: Params) {
    private val aInit = math.max(2, (p.range + 32) / 64)
    val A: Array[Int] = Array.fill(367)(aInit)
    val B: Array[Int] = new Array[Int](365)
    val C: Array[Int] = new Array[Int](365)
    val N: Array[Int] = Array.fill(367)(1)
    val Nn: Array[Int] = new Array[Int](2) // for contexts 365 (RItype 0), 366 (RItype 1)
    var runIndex: Int = 0

    def golombK(n: Int, a: Int): Int = {
      var k = 0
      while ((n.toLong << k) < a) k += 1
      k
    }
  }

  private def med(a: Int, b: Int, c: Int): Int =
    if (c >= math.max(a, b)) math.min(a, b)
    else if (c <= math.min(a, b)) math.max(a, b)
    else a + b - c

  // ------------------------------------------------------------ bit I/O
  // Marker-avoidance stuffing (A.1): a byte following an emitted 0xFF
  // carries only 7 bits, its MSB forced to 0.

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    private var lastFF = false
    private def cap = if (lastFF) 7 else 8

    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nbits += 1
      if (nbits == cap) {
        out.write(cur)
        lastFF = cap == 8 && cur == 0xff
        cur = 0; nbits = 0
      }
    }
    def writeBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit((v >> i) & 1); i -= 1 }
    }
    def writeZeros(n: Int): Unit = { var i = 0; while (i < n) { writeBit(0); i += 1 } }
    def flush(): Array[Byte] = {
      if (nbits > 0) { cur <<= (cap - nbits); out.write(cur); nbits = 0 }
      out.toByteArray
    }
  }

  private final class BitReader(data: Array[Byte], start: Int) {
    private var pos = start
    private var cur = 0
    private var bitsLeft = 0
    private var prevByte = 0

    def readBit(): Int = {
      if (bitsLeft == 0) {
        require(pos < data.length, "JPEG-LS entropy stream truncated")
        val stuffed = prevByte == 0xff
        prevByte = data(pos) & 0xff
        pos += 1
        cur = if (stuffed) prevByte & 0x7f else prevByte
        bitsLeft = if (stuffed) 7 else 8
      }
      bitsLeft -= 1
      (cur >> bitsLeft) & 1
    }
    def readBits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }

  // --------------------------------------------- limited-length Golomb

  private def encodeLimited(bw: BitWriter, v: Int, k: Int, limit: Int, qbpp: Int): Unit = {
    val hi = v >>> k
    if (hi < limit - qbpp - 1) {
      bw.writeZeros(hi); bw.writeBit(1)
      if (k > 0) bw.writeBits(v & ((1 << k) - 1), k)
    } else {
      bw.writeZeros(limit - qbpp - 1); bw.writeBit(1)
      bw.writeBits(v - 1, qbpp)
    }
  }

  private def decodeLimited(br: BitReader, k: Int, limit: Int, qbpp: Int): Int = {
    var u = 0
    while (br.readBit() == 0) {
      u += 1
      require(u <= limit, "JPEG-LS: unary run exceeds LIMIT (corrupt stream)")
    }
    if (u < limit - qbpp - 1) (u << k) | (if (k > 0) br.readBits(k) else 0)
    else br.readBits(qbpp) + 1
  }

  // ------------------------------------------------------------ decode

  /** Decode a complete JPEG-LS interchange stream (SOI..EOI). */
  def decode(bytes: Array[Byte]): Image = {
    require(bytes.length > 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "not a JPEG-LS stream (missing SOI)")
    var pos = 2
    var width = -1; var height = -1; var precision = -1
    var presetT1 = -1; var presetT2 = -1; var presetT3 = -1; var presetReset = -1
    var presetMaxval = -1
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)

    while (true) {
      require(pos + 4 <= bytes.length, "JPEG-LS stream truncated before SOS")
      require((bytes(pos) & 0xff) == 0xff, f"expected marker at $pos, got ${bytes(pos)}%02x")
      val marker = bytes(pos + 1) & 0xff
      marker match {
        case 0xf7 => // SOF55
          val len = u16(pos + 2)
          precision = bytes(pos + 4) & 0xff
          height = u16(pos + 5)
          width = u16(pos + 7)
          val nf = bytes(pos + 9) & 0xff
          require(nf == 1, s"JPEG-LS: only single-component scans supported, got $nf components")
          pos += 2 + len
        case 0xf8 => // LSE
          val len = u16(pos + 2)
          val id = bytes(pos + 4) & 0xff
          require(id == 1, s"JPEG-LS: LSE ID $id (mapping tables) not supported")
          presetMaxval = u16(pos + 5)
          presetT1 = u16(pos + 7); presetT2 = u16(pos + 9); presetT3 = u16(pos + 11)
          presetReset = u16(pos + 13)
          pos += 2 + len
        case 0xda => // SOS
          val len = u16(pos + 2)
          val ns = bytes(pos + 4) & 0xff
          require(ns == 1, s"JPEG-LS: only 1 scan component supported, got $ns")
          val near = bytes(pos + 4 + 1 + 2 * ns) & 0xff
          val ilv = bytes(pos + 5 + 1 + 2 * ns) & 0xff
          require(near == 0, s"JPEG-LS: near-lossless (NEAR=$near) not supported — lossless only")
          require(ilv == 0, s"JPEG-LS: interleave mode $ilv not supported")
          require(width > 0 && height > 0 && precision >= 2, "JPEG-LS: SOS before valid SOF55")
          // allocation guard: width/height are 16-bit fields, so a corrupt
          // SOF55 reaches 2^32 samples (an 8 GiB Int plane) — throw, not OOM
          require(width.toLong * height <= (1L << 26),
            s"implausible image size ${width}x$height — corrupt SOF55")
          val maxval = if (presetMaxval > 0) presetMaxval else (1 << precision) - 1
          val p = new Params(maxval, presetT1, presetT2, presetT3, presetReset)
          val br = new BitReader(bytes, pos + 2 + len)
          val samples = decodeScan(br, width, height, p)
          return Image(width, height, precision, samples)
        case 0xd9 =>
          throw new IllegalArgumentException("JPEG-LS: EOI before SOS (no image data)")
        case m if m >= 0xd0 && m <= 0xd7 =>
          throw new IllegalArgumentException("JPEG-LS: restart markers not supported")
        case _ => // other segments (APPn, COM): skip by length
          val len = u16(pos + 2)
          pos += 2 + len
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def decodeScan(br: BitReader, w: Int, h: Int, p: Params): Array[Int] = {
    val st = new State(p)
    val out = new Array[Int](w * h)
    var prev = new Array[Int](w + 2)
    var cur = new Array[Int](w + 2)
    var row = 0
    while (row < h) {
      cur(0) = prev(1)
      prev(w + 1) = prev(w)
      var col = 1
      while (col <= w) {
        val ra = cur(col - 1); val rb = prev(col); val rc = prev(col - 1); val rd = prev(col + 1)
        val d1 = rd - rb; val d2 = rb - rc; val d3 = rc - ra
        if (d1 == 0 && d2 == 0 && d3 == 0) {
          col = decodeRun(br, st, p, prev, cur, col, w, ra)
        } else {
          cur(col) = decodeRegular(br, st, p, d1, d2, d3, ra, rb, rc)
          col += 1
        }
      }
      System.arraycopy(cur, 1, out, row * w, w)
      val t = prev; prev = cur; cur = t
      row += 1
    }
    out
  }

  private def decodeRegular(br: BitReader, st: State, p: Params,
                            d1: Int, d2: Int, d3: Int, ra: Int, rb: Int, rc: Int): Int = {
    var q1 = p.quantize(d1); var q2 = p.quantize(d2); var q3 = p.quantize(d3)
    var sign = 1
    if (q1 < 0 || (q1 == 0 && (q2 < 0 || (q2 == 0 && q3 < 0)))) {
      sign = -1; q1 = -q1; q2 = -q2; q3 = -q3
    }
    val q = q1 * 81 + q2 * 9 + q3
    var px = med(ra, rb, rc) + sign * st.C(q)
    if (px < 0) px = 0 else if (px > p.maxval) px = p.maxval
    val k = st.golombK(st.N(q), st.A(q))
    val merr = decodeLimited(br, k, p.limit, p.qbpp)
    // inverse of the A.5.2 error mapping (NEAR=0)
    val e2 =
      if (k == 0 && 2 * st.B(q) <= -st.N(q)) {
        if ((merr & 1) == 1) (merr - 1) / 2 else -(merr / 2) - 1
      } else {
        if ((merr & 1) == 0) merr / 2 else -((merr + 1) / 2)
      }
    updateRegular(st, p, q, e2)
    var rx = px + sign * e2
    if (rx < 0) rx += p.range else if (rx > p.maxval) rx -= p.range
    if (rx < 0) rx = 0 else if (rx > p.maxval) rx = p.maxval
    rx
  }

  /** A.6.1 counter update + A.6.2 bias computation — shared verbatim by
    * encoder and decoder. */
  private def updateRegular(st: State, p: Params, q: Int, e2: Int): Unit = {
    st.B(q) += e2
    st.A(q) += math.abs(e2)
    if (st.N(q) == p.reset) { st.A(q) >>= 1; st.B(q) = st.B(q) >> 1; st.N(q) >>= 1 }
    st.N(q) += 1
    if (st.B(q) <= -st.N(q)) {
      if (st.C(q) > -128) st.C(q) -= 1
      st.B(q) += st.N(q)
      if (st.B(q) <= -st.N(q)) st.B(q) = -st.N(q) + 1
    } else if (st.B(q) > 0) {
      if (st.C(q) < 127) st.C(q) += 1
      st.B(q) -= st.N(q)
      if (st.B(q) > 0) st.B(q) = 0
    }
  }

  /** A.7.1.2 run decoding; returns the next column (1-based, may be w+1). */
  private def decodeRun(br: BitReader, st: State, p: Params, prev: Array[Int],
                        cur: Array[Int], col0: Int, w: Int, ra: Int): Int = {
    var col = col0
    while (true) {
      if (br.readBit() == 1) {
        val seg = 1 << J(st.runIndex)
        val fill = math.min(seg, w - col + 1)
        var i = 0
        while (i < fill) { cur(col) = ra; col += 1; i += 1 }
        if (fill == seg && st.runIndex < 31) st.runIndex += 1
        if (col > w) return col // run broken by end of line — no interruption sample
      } else {
        val jj = J(st.runIndex)
        val cnt = if (jj > 0) br.readBits(jj) else 0
        var i = 0
        while (i < cnt) { cur(col) = ra; col += 1; i += 1 }
        require(col <= w, "JPEG-LS: run remainder overruns line")
        val rb = prev(col)
        cur(col) = decodeRunInterruption(br, st, p, ra, rb)
        col += 1
        if (st.runIndex > 0) st.runIndex -= 1
        return col
      }
    }
    col
  }

  private def decodeRunInterruption(br: BitReader, st: State, p: Params,
                                    ra: Int, rb: Int): Int = {
    val riType = if (ra == rb) 1 else 0
    val q = 365 + riType
    val px = if (riType == 1) ra else rb
    val sign = if (riType == 0 && ra > rb) -1 else 1
    val temp = if (riType == 1) st.A(366) + (st.N(366) >> 1) else st.A(365)
    val k = st.golombK(st.N(q), temp)
    val glimit = p.limit - J(st.runIndex) - 1
    val em = decodeLimited(br, k, glimit, p.qbpp)
    // invert EMErrval = 2|e| - RItype - map: parity recovers `map`, and the
    // positive-sign map (A.7.2.1) differs from the negative-sign map in
    // every (k, Nn, N) state, so `map` determines the sign
    val mapPositive = if (k == 0 && 2 * st.Nn(riType) < st.N(q)) 1 else 0
    val map = (em + riType) & 1
    val absE = (em + riType + map) / 2
    val e2 = if (map == mapPositive) absE else -absE
    updateRunInterruption(st, p, q, riType, e2, em)
    var rx = px + sign * e2
    if (rx < 0) rx += p.range else if (rx > p.maxval) rx -= p.range
    if (rx < 0) rx = 0 else if (rx > p.maxval) rx = p.maxval
    rx
  }

  /** A.7.2.2 run-interruption counter update — shared by encoder/decoder. */
  private def updateRunInterruption(st: State, p: Params, q: Int, riType: Int,
                                    e2: Int, em: Int): Unit = {
    if (e2 < 0) st.Nn(riType) += 1
    st.A(q) += (em + 1 - riType) >> 1
    if (st.N(q) == p.reset) { st.A(q) >>= 1; st.N(q) >>= 1; st.Nn(riType) >>= 1 }
    st.N(q) += 1
  }

  // ------------------------------------------------------------ encode

  /** Encode a lossless single-component JPEG-LS interchange stream. */
  def encode(img: Image): Array[Byte] = {
    require(img.precision >= 2 && img.precision <= 16,
      s"unsupported precision ${img.precision}")
    require(img.samples.length == img.width * img.height, "shape/data mismatch")
    val maxval = (1 << img.precision) - 1
    require(img.samples.forall(s => s >= 0 && s <= maxval),
      s"sample out of [0, $maxval] range")
    val p = new Params(maxval)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    out.write(0xff); out.write(0xd8) // SOI
    out.write(0xff); out.write(0xf7) // SOF55
    u16(11); out.write(img.precision); u16(img.height); u16(img.width)
    out.write(1); out.write(1); out.write(0x11); out.write(0)
    out.write(0xff); out.write(0xf8) // LSE: explicit presets (= defaults)
    u16(13); out.write(1); u16(maxval); u16(p.t1); u16(p.t2); u16(p.t3); u16(p.reset)
    out.write(0xff); out.write(0xda) // SOS
    u16(8); out.write(1); out.write(1); out.write(0)
    out.write(0); out.write(0); out.write(0) // NEAR=0, ILV=0, Al/Ah=0
    out.write(encodeScan(img.width, img.height, img.samples, p))
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  private def encodeScan(w: Int, h: Int, samples: Array[Int], p: Params): Array[Byte] = {
    val st = new State(p)
    val bw = new BitWriter
    var prev = new Array[Int](w + 2)
    var cur = new Array[Int](w + 2)
    var row = 0
    while (row < h) {
      cur(0) = prev(1)
      prev(w + 1) = prev(w)
      var col = 1
      while (col <= w) {
        cur(col) = samples(row * w + col - 1)
        col += 1
      }
      col = 1
      while (col <= w) {
        val ra = cur(col - 1); val rb = prev(col); val rc = prev(col - 1); val rd = prev(col + 1)
        val d1 = rd - rb; val d2 = rb - rc; val d3 = rc - ra
        if (d1 == 0 && d2 == 0 && d3 == 0) {
          col = encodeRun(bw, st, p, prev, cur, col, w, ra)
        } else {
          encodeRegular(bw, st, p, d1, d2, d3, ra, rb, rc, cur(col))
          col += 1
        }
      }
      val t = prev; prev = cur; cur = t
      row += 1
    }
    bw.flush()
  }

  private def encodeRegular(bw: BitWriter, st: State, p: Params, d1: Int, d2: Int,
                            d3: Int, ra: Int, rb: Int, rc: Int, x: Int): Unit = {
    var q1 = p.quantize(d1); var q2 = p.quantize(d2); var q3 = p.quantize(d3)
    var sign = 1
    if (q1 < 0 || (q1 == 0 && (q2 < 0 || (q2 == 0 && q3 < 0)))) {
      sign = -1; q1 = -q1; q2 = -q2; q3 = -q3
    }
    val q = q1 * 81 + q2 * 9 + q3
    var px = med(ra, rb, rc) + sign * st.C(q)
    if (px < 0) px = 0 else if (px > p.maxval) px = p.maxval
    var e2 = (x - px) * sign
    if (e2 < 0) e2 += p.range
    if (e2 >= (p.range + 1) / 2) e2 -= p.range
    val k = st.golombK(st.N(q), st.A(q))
    val merr =
      if (k == 0 && 2 * st.B(q) <= -st.N(q)) {
        if (e2 >= 0) 2 * e2 + 1 else -2 * (e2 + 1)
      } else {
        if (e2 >= 0) 2 * e2 else -2 * e2 - 1
      }
    encodeLimited(bw, merr, k, p.limit, p.qbpp)
    updateRegular(st, p, q, e2)
  }

  /** A.7.1.2 run encoding; returns the next column. */
  private def encodeRun(bw: BitWriter, st: State, p: Params, prev: Array[Int],
                        cur: Array[Int], col0: Int, w: Int, ra: Int): Int = {
    var runCnt = 0
    while (col0 + runCnt <= w && cur(col0 + runCnt) == ra) runCnt += 1
    val fullRun = runCnt
    val endOfLine = col0 + runCnt > w
    while (runCnt >= (1 << J(st.runIndex))) {
      bw.writeBit(1)
      runCnt -= 1 << J(st.runIndex)
      if (st.runIndex < 31) st.runIndex += 1
    }
    if (endOfLine) {
      if (runCnt > 0) bw.writeBit(1)
      return w + 1
    }
    bw.writeBit(0)
    if (J(st.runIndex) > 0) bw.writeBits(runCnt, J(st.runIndex))
    val col = col0 + fullRun // interruption sample: first sample != ra
    val rb = prev(col)
    encodeRunInterruption(bw, st, p, ra, rb, cur(col))
    if (st.runIndex > 0) st.runIndex -= 1
    col + 1
  }

  private def encodeRunInterruption(bw: BitWriter, st: State, p: Params,
                                    ra: Int, rb: Int, x: Int): Unit = {
    val riType = if (ra == rb) 1 else 0
    val q = 365 + riType
    val px = if (riType == 1) ra else rb
    val sign = if (riType == 0 && ra > rb) -1 else 1
    var e2 = (x - px) * sign
    if (e2 < 0) e2 += p.range
    if (e2 >= (p.range + 1) / 2) e2 -= p.range
    val temp = if (riType == 1) st.A(366) + (st.N(366) >> 1) else st.A(365)
    val k = st.golombK(st.N(q), temp)
    // A.7.2.1 map
    val map =
      if (k == 0 && e2 > 0 && 2 * st.Nn(riType) < st.N(q)) 1
      else if (e2 < 0 && 2 * st.Nn(riType) >= st.N(q)) 1
      else if (e2 < 0 && k != 0) 1
      else 0
    val em = 2 * math.abs(e2) - riType - map
    encodeLimited(bw, em, k, p.limit - J(st.runIndex) - 1, p.qbpp)
    updateRunInterruption(st, p, q, riType, e2, em)
  }
}

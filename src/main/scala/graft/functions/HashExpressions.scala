package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind graft's native functions. Each public method
  * is named twice in one [[Kernel]] row of [[GraftFunctions.kernels]]:
  * as the Java name [[KernelCall]]'s generated code calls and as the
  * Scala function its interpreted eval calls. Top-level object → the
  * compiler emits static forwarders, so Janino-generated Java can call
  * `graft.functions.HashImpls.xxx(...)` directly, keeping every kernel
  * inside whole-stage codegen spans.
  *
  * All hashes are self-contained public algorithms (FNV-1a 64-bit;
  * splitmix64 finalizer from Steele et al., "Fast Splittable Pseudorandom
  * Number Generators", OOPSLA 2014) — deterministic across JVMs.
  */
object HashImpls {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** Whether any element of `a` is NULL (the check behind
    * [[Kernel.nullOnNullElement]]).
    */
  def anyNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** FNV-1a over UTF-8 bytes. */
  def fnv1a(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Polynomial (Rabin-Karp) rolling hash over UTF-8 bytes, wrapping mod
    * 2^64: the document fingerprint the reference's scalar-function
    * surface lacks (it ships only sha224-512/md5, ballista.proto:80-114).
    */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** 64-bit SimHash (Charikar, STOC 2002) over an array of string tokens:
    * per-token FNV hash votes +1/-1 on each bit position; the sign of each
    * accumulated vote becomes the output bit. One pass over the tokens.
    */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a(tokens.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Per-k permutation coefficients a_i = splitmix64(2i+1)|1 (odd),
    * b_i = splitmix64(2i+2), computed once and cached — recomputing them
    * per shingle costs 2·k redundant hashes on the dedup hot path.
    */
  private[this] val minhashCoeffs =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def coeffsFor(k: Int): (Array[Long], Array[Long]) = {
    var c = minhashCoeffs.get(k)
    if (c == null) {
      val a = new Array[Long](k)
      val b = new Array[Long](k)
      var j = 0
      while (j < k) {
        a(j) = splitmix64(2L * j + 1) | 1L
        b(j) = splitmix64(2L * j + 2)
        j += 1
      }
      c = (a, b)
      minhashCoeffs.putIfAbsent(k, c)
    }
    c
  }

  /** k-permutation MinHash signature (Broder, "On the resemblance and
    * containment of documents", 1997) of a string set: base-hash each
    * element with FNV-1a, then k affine permutations h_i(x) = a_i*x + b_i
    * (odd a_i, 64-bit wrap) tracking the minimum of each.
    */
  def minhash64(shingles: ArrayData, k: Int): ArrayData = {
    val (as, bs) = coeffsFor(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val x = fnv1a(shingles.getUTF8String(i))
        var j = 0
        while (j < k) {
          val v = as(j) * x + bs(j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Cosine similarity of two double vectors, strict left-to-right
    * accumulation (deterministic across partitionings). Returns 0.0 for
    * zero-norm inputs. One fused pass: a zip_with+aggregate composition
    * evaluates its lambdas outside whole-stage codegen.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Distinct n-gram shingles ("w1 w2 w3") over a word array, one pass
    * (a transform/slice/concat_ws composition evaluates its lambda
    * interpreted per element, which dominates dedup at scale).
    */
  def wordShingles(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(new Array[Any](0))
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }

  /** Distinct character q-grams of a string, one pass (the char-level
    * analog of [[wordShingles]], backing the exact edit-distance q-gram
    * tier: each edit operation destroys at most q distinct q-grams, so
    * lev(a,b) <= K implies |Q(a) ∩ Q(b)| >= max(|Q(a)|,|Q(b)|) − K·q —
    * the count bound the prefix filter needs). Substring positions are
    * code-point-based (UTF8String.substring), so multi-byte text never
    * splits a character. A transform(sequence(...)) composition would
    * evaluate an interpreted lambda per position.
    */
  def charGrams(s: UTF8String, q: Int): ArrayData = {
    val m = s.numChars()
    if (m < q) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= m - q) {
      seen.add(s.substring(i, i + q))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }

  /** One MD5 instance + digest buffer per thread: `MessageDigest
    * .getInstance` per window would allocate (and provider-lookup) once
    * per corpus byte on the CDC hot path; `digest(buf, ...)` writes into
    * the reusable buffer and resets the digest, so the steady-state probe
    * allocates nothing.
    */
  private[this] val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private[this] val md5Out = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** Content-defined-chunking cut positions of a string (backs
    * `cdc_cuts` and graft.operators.Dedup's CDC tier): the 1-based
    * code-point index `p + w - 1` for every window start `p` in
    * `[1, numChars - w + 1]` whose w-code-point window's md5 hex digest
    * starts with '0'. Bit-identical to the declarative form
    * `filter(transform(sequence(1, length(s)-w+1), p -> CASE WHEN
    * substring(md5(substring(s,p,w)),1,1)='0' THEN p+w-1 ELSE -1 END),
    * x -> x > 0)` — Spark's `md5` hashes the UTF-8 bytes of the
    * code-point substring and a leading hex '0' is exactly a zero top
    * nibble (`(digest(0) & 0xF0) == 0`) — but one no-allocation pass:
    * the interpreted composition dispatches two lambdas, a sequence
    * materialization, a substring allocation, a fresh MessageDigest AND
    * a 32-char hex encode per character position (≈ one of each per
    * corpus byte at w=8). ASCII fast path digests straight from the
    * row's UTF-8 byte array (code-point slice == byte slice); multi-byte
    * text falls back to the per-window substring, preserving code-point
    * semantics. Strings shorter than w yield an empty array (the
    * declarative form needs an explicit guard because
    * `sequence(1, len-w+1)` DESCENDS when len < w).
    */
  def cdcCuts(s: UTF8String, w: Int): ArrayData = {
    val m = s.numChars()
    if (m < w) return new GenericArrayData(new Array[Any](0))
    val md = md5Local.get()
    val out = md5Out.get()
    val bytes = s.getBytes
    val ascii = bytes.length == m
    val cuts = new Array[Int](m - w + 1)
    var k = 0
    var p = 1
    while (p <= m - w + 1) {
      if (ascii) md.update(bytes, p - 1, w)
      else md.update(s.substring(p - 1, p - 1 + w).getBytes)
      md.digest(out, 0, 16): Unit
      if ((out(0) & 0xf0) == 0) { cuts(k) = p + w - 1; k += 1 }
      p += 1
    }
    val res = new Array[Any](k)
    var i = 0
    while (i < k) { res(i) = cuts(i); i += 1 }
    new GenericArrayData(res)
  }

  /** Maximum element multiplicity of a string array: sort a local copy,
    * then the longest run of equal adjacent values IS the top
    * multiplicity. One JVM sort + one pass per row — replaces an
    * interpreted higher-order `aggregate` lambda (2 lambda invocations
    * per element, boxed struct accumulator) on the repetition-scoring hot
    * path. Null elements are ignored; empty/all-null arrays return 0.
    */
  def maxRunCount(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val vals = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { vals(m) = arr.getUTF8String(i); m += 1 }
      i += 1
    }
    if (m == 0) return 0L
    java.util.Arrays.sort(vals.asInstanceOf[Array[Object]], 0, m)
    var best = 1L
    var run = 1L
    i = 1
    while (i < m) {
      if (vals(i).equals(vals(i - 1))) { run += 1; if (run > best) best = run }
      else run = 1L
      i += 1
    }
    best
  }

  /** The planted subword vocabulary for [[greedyTokenCount]] — the
    * BPE-merge-table stand-in: full fixture words plus overlapping
    * prefixes/infixes so greedy LONGEST-match is load-bearing (at "table"
    * the 5-char entry must beat "tab"/"ta"; at "sort" no entry matches and
    * the tokenizer must fall back through "so"+"r"+"t"-style pieces).
    * Single characters (and the space) are the implicit byte-fallback
    * tier, as in every production BPE. A real tokenizer swaps this array
    * for its merge table; the kernel below is unchanged. Deterministic
    * literal so the DuckDB oracle can replay the match from the same
    * list.
    */
  val TokenVocab: Array[String] = Array(
    "table", "tab", "ta", "value", "val", "stream", "str", "window",
    "wind", "filter", "fil", "order", "ord", "query", "qu", "ue", "row",
    "key", "scan", "sc", "hash", "ha", "sh", "merge", "mer", "ge",
    "batch", "ba", "tch", "spark", "sp", "ark", "line", "li", "ne",
    "so", "part", "par", "agg", "group", "gro", "column", "col", "um",
    "customer", "cust", "om", "the", "th", "he", "data", "da", "big",
    "slow", "sl", "ow", "fast", "fa", "st", "small", "sm", "all",
    "join", "jo", "in", "dup", "du", "vector", "vec", "tor", "an",
    "ar", "re", "am", "or", "er", "le")

  /** First-char-indexed candidate lists, longest first — greedy
    * longest-match is one array probe + a short prefix scan per position.
    */
  private val vocabByFirst: Array[Array[String]] = {
    val m = new Array[Array[String]](128)
    TokenVocab.groupBy(_.charAt(0)).foreach { case (c, ws) =>
      require(c < 128, "vocab must be ASCII for the first-char index")
      m(c) = ws.sortBy(-_.length)
    }
    m
  }

  /** Greedy longest-match subword token count over [[TokenVocab]] with
    * single-character byte-fallback → LONG. One pass, no allocation: the
    * budget meter for context-window packing where whitespace word counts
    * over- or under-state the real sequence length.
    */
  def greedyTokenCount(s: UTF8String): Long = {
    val str = s.toString
    val len = str.length
    var i = 0
    var n = 0L
    while (i < len) {
      var adv = 0
      val c = str.charAt(i)
      if (c < 128) {
        val cands = vocabByFirst(c)
        if (cands != null) {
          var j = 0
          while (j < cands.length && adv == 0) {
            if (str.startsWith(cands(j), i)) adv = cands(j).length
            j += 1
          }
        }
      }
      // byte fallback advances one CODEPOINT (not one UTF-16 unit): the
      // oracle's recursive CTE steps in DuckDB characters, so a
      // supplementary-plane char must count as ONE token in both engines
      if (adv == 0) adv = Character.charCount(str.codePointAt(i))
      i += adv
      n += 1
    }
    n
  }

  /** Ranked BPE merge table — the pair-merge counterpart of
    * [[TokenVocab]]'s greedy longest-match list (Sennrich et al.,
    * "Neural Machine Translation of Rare Words with Subword Units",
    * ACL 2016: iteratively merge the highest-priority adjacent symbol
    * pair). Hand-ranked over the fixture vocabulary so merge CHAINS are
    * load-bearing (`b+le→ble`, `ta+ble→table` needs both predecessors)
    * and rank ORDER is load-bearing (in "star", (t,a)@3 beats (s,t)@11,
    * yielding `s·ta·r` — a rank-blind merger would produce `st·ar`).
    * Deterministic literal shared with the DuckDB oracle, which replays
    * every merge decision via a recursive CTE; a real tokenizer swaps
    * this array for its learned merges, the kernel is unchanged.
    */
  val BpeMerges: Array[(String, String)] = Array(
    "t" -> "h", "th" -> "e", "l" -> "e", "t" -> "a", "b" -> "le",
    "ta" -> "ble", "i" -> "n", "e" -> "r", "o" -> "r", "a" -> "n",
    "o" -> "w", "s" -> "t", "a" -> "r", "r" -> "e", "v" -> "a",
    "va" -> "l", "u" -> "e", "val" -> "ue", "w" -> "in", "win" -> "d",
    "wind" -> "ow", "s" -> "l", "sl" -> "ow", "f" -> "a", "fa" -> "st",
    "p" -> "ar", "par" -> "t", "h" -> "a", "ha" -> "s", "has" -> "h",
    "s" -> "c", "sc" -> "an", "d" -> "a", "da" -> "ta", "j" -> "o",
    "jo" -> "in", "b" -> "a", "ba" -> "t", "bat" -> "c", "batc" -> "h")

  private val bpeRank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < BpeMerges.length) {
      m.put(BpeMerges(i)._1 + "\u0000" + BpeMerges(i)._2, i)
      i += 1
    }
    m
  }

  /** BPE token count of one word: start from per-CODEPOINT symbols (the
    * byte/char fallback tier; codepoints so supplementary-plane chars
    * count once in both engines), then repeatedly merge the LEFTMOST
    * occurrence of the LOWEST-RANK adjacent pair until no table pair is
    * adjacent — the fully-serializable one-merge-per-step replay form of
    * the BPE apply loop (each step is a pure function of the symbol
    * list, which is what lets the oracle replay it level by level).
    */
  private def bpeWordTokens(word: String): Int = {
    val toks = new java.util.ArrayList[String]()
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      toks.add(word.substring(i, i + n))
      i += n
    }
    var done = toks.size <= 1
    while (!done) {
      var best = Int.MaxValue
      var bp = -1
      var j = 0
      while (j < toks.size - 1) {
        val r = bpeRank.get(toks.get(j) + "\u0000" + toks.get(j + 1))
        if (r != null && r < best) { best = r; bp = j }
        j += 1
      }
      if (bp < 0) done = true
      else {
        toks.set(bp, toks.get(bp) + toks.get(bp + 1))
        toks.remove(bp + 1)
        done = toks.size <= 1
      }
    }
    toks.size
  }

  /** BPE pair-merge subword token count over a single-spaced string
    * (merges never cross word boundaries, as in every production BPE) →
    * LONG. One pass over words, bounded merge loop per word.
    */
  def bpeTokenCount(s: UTF8String): Long = {
    val str = s.toString
    val len = str.length
    var n = 0L
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || str.charAt(i) == ' ') {
        if (i > start) n += bpeWordTokens(str.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    n
  }

  /** Dot product, strict left-to-right accumulation. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Deterministic Gaussian random hyperplanes for sign-bit LSH (Charikar,
    * "Similarity estimation techniques from rounding algorithms", STOC
    * 2002: P[sign collision] = 1 − θ/π needs spherically-symmetric plane
    * directions, hence Gaussian components, via Box–Muller over splitmix64
    * streams). The matrix NEVER enters a query plan or shuffles: each
    * executor JVM materializes it lazily from (seed, planes, dim) — ~100 KB
    * at 192×64 — and caches it, so the per-row signature is a pure local
    * dot-product loop.
    */
  private[this] val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  private def planesFor(seed: Long, nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val key = (seed, nPlanes, dim)
    var m = planeCache.get(key)
    if (m == null) {
      m = Array.tabulate(nPlanes) { p =>
        Array.tabulate(dim) { d =>
          val i = p.toLong * dim + d
          val u1 = ((splitmix64(seed + 2 * i) >>> 11) + 1).toDouble / (1L << 53)
          val u2 = (splitmix64(seed + 2 * i + 1) >>> 11).toDouble / (1L << 53)
          math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
        }
      }
      planeCache.putIfAbsent(key, m)
    }
    m
  }

  /** Banded sign-bit signature of a double vector: element j is the packed
    * `rowsPerBand` sign bits of band j against hyperplanes
    * [j·rowsPerBand, (j+1)·rowsPerBand) — directly usable as an LSH
    * band-bucket join key.
    */
  def hyperplaneBands(v: ArrayData, bands: Int, rowsPerBand: Int,
                      seed: Long): ArrayData = {
    val dim = v.numElements()
    val planes = planesFor(seed, bands * rowsPerBand, dim)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var r = 0
      while (r < rowsPerBand) {
        val p = planes(b * rowsPerBand + r)
        var s = 0.0
        var i = 0
        while (i < dim) { s += v.getDouble(i) * p(i); i += 1 }
        if (s > 0.0) key |= 1L << r
        r += 1
      }
      out(b) = key
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Static kernel for the broadcast-bloom membership probe. Spark's
  * `BloomFilter.putString`/`mightContainString` hash the UTF-8 bytes, so
  * probing with the UTF8String's bytes directly matches a filter built by
  * `DataFrameStatFunctions.bloomFilter` over a string column — no
  * String materialization per row.
  */
object BloomImpls {
  def mightContain(bf: org.apache.spark.util.sketch.BloomFilter,
                   s: UTF8String): Boolean =
    bf.mightContainBinary(s.getBytes)
}

/** Membership probe of STRING against a driver-built, broadcast
  * `BloomFilter` → BOOLEAN, inside whole-stage codegen. Spark's own
  * bloom expression (`BloomFilterMightContain`) is engine-internal to
  * runtime join filters and takes the sketch as an aggregated binary
  * column; this one carries the task-side handle through a `Broadcast`
  * reference object and unwraps it ONCE per generated class into a
  * mutable-state field, so the per-row cost is a static kernel call on
  * a local — no lambda dispatch, no per-row broadcast lookup (the UDF
  * this replaces paid both on every corpus shingle).
  */
case class BloomMightContain(
    child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override protected def nullSafeEval(v: Any): Any =
    BloomImpls.mightContain(bloom.value, v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfClass = "org.apache.spark.util.sketch.BloomFilter"
    val bcRef = ctx.addReferenceObj("graftBloomBc", bloom,
      "org.apache.spark.broadcast.Broadcast")
    val bfVar = ctx.addMutableState(bfClass, "graftBloom",
      v => s"$v = ($bfClass)$bcRef.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BloomImpls.mightContain($bfVar, $c)")
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

/** Single-pass HTML boilerplate-extraction kernel — the whole
  * script/style-strip → block-tag line-break → per-line link/word/stopword
  * rule chain of `TextAnalysis.stageHtmlExtract` in ONE JVM pass per
  * document. The composed higher-order-function form evaluates its
  * per-line lambda chain interpreted AND re-evaluates it once per
  * referenced output field (no codegen, no subexpression elimination for
  * HOFs — measured 7.0 s for the sf0.1 row, the slowest suite query);
  * this kernel is codegen'd, so projection-level CSE computes the struct
  * once and the row drops to scan speed. Pattern semantics are exactly
  * the oracle's regexes (dotall non-greedy block strip, `<[^>]*>` tag
  * strip, `\s+` collapse).
  */
object HtmlImpls {
  import java.util.regex.Pattern
  private val ScriptRe = Pattern.compile("(?s)<script[^>]*>.*?</script>")
  private val StyleRe = Pattern.compile("(?s)<style[^>]*>.*?</style>")
  private val BreakRe = Pattern.compile("</p>|</div>|</h1>")
  private val TagRe = Pattern.compile("<[^>]*>")
  private val WsRe = Pattern.compile("\\s+")
  private val LinkRe = Pattern.compile("<a ")
  private val Stop: java.util.Set[String] =
    new java.util.HashSet(java.util.Arrays.asList(TextFunctions.Stopwords: _*))

  val schema: StructType = StructType(Seq(
    StructField("n_lines_raw", IntegerType, nullable = false),
    StructField("n_lines_kept", IntegerType, nullable = false),
    StructField("n_links", LongType, nullable = false),
    StructField("n_words_kept", LongType, nullable = false),
    StructField("text_clean", StringType, nullable = false)))

  def htmlExtract(html: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s1 = ScriptRe.matcher(html.toString).replaceAll("")
    val s2 = StyleRe.matcher(s1).replaceAll("")
    // -1 limit keeps trailing empty segments, matching Spark's split()
    val lines = BreakRe.matcher(s2).replaceAll("\n").split("\n", -1)
    var raw = 0
    var kept = 0
    var links = 0L
    var words = 0L
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      raw += 1
      var lk = 0
      val m = LinkRe.matcher(l)
      while (m.find()) lk += 1
      links += lk
      val stripped =
        WsRe.matcher(TagRe.matcher(l).replaceAll("")).replaceAll(" ").trim
      val ws = stripped.split(" ", -1)
      val w = ws.length
      var st = 0
      var j = 0
      while (j < w) { if (Stop.contains(ws(j))) st += 1; j += 1 }
      if (w >= 5 && lk * 4 < w && st >= 1) {
        kept += 1
        words += w
        if (sb.length > 0) sb.append('\n')
        sb.append(stripped)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](raw, kept, links, words, UTF8String.fromString(sb.toString)))
  }
}

/** One native function, named once: its SQL name, its arguments, its
  * result type and its static kernel. The kernel appears twice — as the
  * Java name generated code calls (`method`, relative to
  * `graft.functions`) and as the Scala function interpreted eval calls
  * (`eval`, over the argument values, none of them NULL). With
  * `nullOnNullElement`, a NULL element of an array argument makes the call
  * NULL too: the vector kernels have no value for a missing component, and
  * a shingle over a missing word is not a shingle. The rows live in
  * [[GraftFunctions.kernels]]; [[KernelCall]] evaluates any of them.
  */
final case class Kernel(name: String, args: Seq[Kernel.Arg], dataType: DataType,
                        method: String, eval: Array[Any] => Any,
                        nullOnNullElement: Boolean = false)

object Kernel {
  /** A column argument of `dataType`, or — with `range` — an integral
    * literal (`dataType` IntegerType or LongType) within the inclusive
    * range, `default` standing in when a call omits it. A NULL literal
    * makes the call NULL, as a NULL column value does.
    */
  final case class Arg(dataType: DataType, range: Option[(Long, Long)] = None,
                       default: Option[Long] = None)

  def lit(dataType: DataType, lo: Long, hi: Long, default: Option[Long] = None): Arg =
    Arg(dataType, Some((lo, hi)), default)
}

/** The one Catalyst expression behind every [[Kernel]]: `kernel` applied
  * to `children`, its column arguments and its literal arguments (as
  * [[Literal]] children) in the row's order. NULL in any argument gives
  * NULL out (and a NULL array element, for a `nullOnNullElement` row); it
  * is foldable exactly when its children are; plans show
  * the row's SQL name (`minhash64(sh#12, 64)`); generated code calls
  * `graft.functions.<method>(args…)` inline, so every kernel stays inside
  * whole-stage codegen. Spark's `StaticInvoke` would do the call too, but
  * it renames the plan node to `staticinvoke(...)` and its interpreted
  * path reflects on every row.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = kernel.args.map(_.dataType)
  override def dataType: DataType = kernel.dataType
  /** Per child: an array whose NULL elements make the call NULL. */
  @transient private lazy val elementChecked = children.map(c =>
    kernel.nullOnNullElement && (c.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }))
  override def nullable: Boolean =
    children.zip(elementChecked).exists { case (c, e) => c.nullable || e }
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val vs = new Array[Any](children.length)
    var i = 0
    while (i < vs.length) {
      vs(i) = children(i).eval(input)
      if (vs(i) == null ||
          elementChecked(i) && HashImpls.anyNull(vs(i).asInstanceOf[ArrayData]))
        return null
      i += 1
    }
    kernel.eval(vs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${ev.isNull} = false;\n${ev.value} = graft.functions." +
      s"${kernel.method}(${gens.map(_.value).mkString(", ")});"
    val body = children.zip(gens).zip(elementChecked).foldRight(call) {
      case (((c, g), e), inner) =>
        val checked = if (!e) inner
          else s"if (!graft.functions.HashImpls.anyNull(${g.value})) {\n$inner\n}"
        s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(checked)}"
    }
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $body""")
  }

  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): KernelCall = copy(children = cs)
}

/** SQL registration + Column-level wrappers (via the function registry, so
  * the same names work from SQL and the DataFrame API). Every native
  * function is one [[Kernel]] row of [[kernels]]; [[names]], [[register]]
  * and [[injectInto]] all read that table. The install path is
  * [[injectInto]], the `SparkSessionExtensions` hook behind
  * [[GraftExtensions]]: `graft.context.SessionContext.local` sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`, so every
  * session it builds — and every `newSession()` child of one — resolves
  * these names. Precondition for the operators: a session from
  * `SessionContext.local`, or one with that extension set.
  * `graft.SparkEntry.queries` adapts any other session through
  * [[register]], the imperative per-session form of the same table (it
  * does not carry into `newSession()` children).
  */
object GraftFunctions {
  import org.apache.spark.sql.functions.call_function
  import org.apache.spark.sql.SparkSessionExtensions
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import Kernel.{Arg, lit}

  private val Strings = ArrayType(StringType)
  private val Doubles = ArrayType(DoubleType)
  private val Longs = ArrayType(LongType, containsNull = false)
  private def str(v: Any) = v.asInstanceOf[UTF8String]
  private def arr(v: Any) = v.asInstanceOf[ArrayData]
  private def int(v: Any) = v.asInstanceOf[Int]

  /** graft's native functions, one row each (see [[HashImpls]] and
    * [[HtmlImpls]] for what each kernel computes and why it is native).
    */
  val kernels: Seq[Kernel] = Seq(
    Kernel("rolling_hash", Seq(Arg(StringType)), LongType,
      "HashImpls.rollingHash", a => HashImpls.rollingHash(str(a(0)))),
    Kernel("simhash64", Seq(Arg(Strings)), LongType,
      "HashImpls.simhash64", a => HashImpls.simhash64(arr(a(0)))),
    Kernel("minhash64", Seq(Arg(Strings), lit(IntegerType, 1, 1024, Some(64))),
      Longs, "HashImpls.minhash64", a => HashImpls.minhash64(arr(a(0)), int(a(1)))),
    Kernel("word_shingles", Seq(Arg(Strings), lit(IntegerType, 1, 16, Some(3))),
      ArrayType(StringType, containsNull = false),
      "HashImpls.wordShingles", a => HashImpls.wordShingles(arr(a(0)), int(a(1))),
      nullOnNullElement = true),
    Kernel("char_grams", Seq(Arg(StringType), lit(IntegerType, 1, 16, Some(3))),
      ArrayType(StringType, containsNull = false),
      "HashImpls.charGrams", a => HashImpls.charGrams(str(a(0)), int(a(1)))),
    Kernel("cdc_cuts", Seq(Arg(StringType), lit(IntegerType, 1, 64, Some(8))),
      ArrayType(IntegerType, containsNull = false),
      "HashImpls.cdcCuts", a => HashImpls.cdcCuts(str(a(0)), int(a(1)))),
    Kernel("max_run_count", Seq(Arg(Strings)), LongType,
      "HashImpls.maxRunCount", a => HashImpls.maxRunCount(arr(a(0)))),
    Kernel("greedy_token_count", Seq(Arg(StringType)), LongType,
      "HashImpls.greedyTokenCount", a => HashImpls.greedyTokenCount(str(a(0)))),
    Kernel("bpe_token_count", Seq(Arg(StringType)), LongType,
      "HashImpls.bpeTokenCount", a => HashImpls.bpeTokenCount(str(a(0)))),
    Kernel("html_extract", Seq(Arg(StringType)), HtmlImpls.schema,
      "HtmlImpls.htmlExtract", a => HtmlImpls.htmlExtract(str(a(0)))),
    Kernel("cosine_sim", Seq(Arg(Doubles), Arg(Doubles)), DoubleType,
      "HashImpls.cosine", a => HashImpls.cosine(arr(a(0)), arr(a(1))),
      nullOnNullElement = true),
    Kernel("dot_product", Seq(Arg(Doubles), Arg(Doubles)), DoubleType,
      "HashImpls.dot", a => HashImpls.dot(arr(a(0)), arr(a(1))),
      nullOnNullElement = true),
    Kernel("hyperplane_bands", Seq(Arg(Doubles), lit(IntegerType, 1, 256),
        lit(IntegerType, 1, 63), lit(LongType, Long.MinValue, Long.MaxValue)),
      Longs, "HashImpls.hyperplaneBands", a => HashImpls.hyperplaneBands(
        arr(a(0)), int(a(1)), int(a(2)), a(3).asInstanceOf[Long]),
      nullOnNullElement = true))

  /** The registry builder of one row: column arguments pass through
    * (ImplicitCastInputTypes casts or rejects them at analysis); each
    * literal argument must be an integer literal in its range, takes its
    * default when omitted, and becomes a [[Literal]] of its declared type.
    */
  private def builder(k: Kernel)(es: Seq[Expression]): Expression = {
    val min = k.args.count(_.default.isEmpty)
    require(es.length >= min && es.length <= k.args.length,
      s"${k.name} takes $min to ${k.args.length} arguments, got ${es.length}")
    KernelCall(k, k.args.zipWithIndex.map {
      case (Arg(_, None, _), i) => es(i)
      case (Arg(t, Some((lo, hi)), default), i) =>
        val v: java.lang.Long = es.lift(i).fold(default.map(Long.box).orNull) {
          case Literal(null, _) => null
          case Literal(v: Int, IntegerType) => v.toLong
          case Literal(v: Long, LongType) => v
          case other => throw new IllegalArgumentException(
            s"${k.name} expects an integer literal, got $other")
        }
        require(v == null || (v >= lo && v <= hi),
          s"${k.name} argument ${i + 1} out of range [$lo, $hi]: $v")
        Literal(if (v == null || t == LongType) v else Int.box(v.intValue), t)
    })
  }

  /** Registered function names (for the built-in-collision spec). */
  def names: Seq[String] = kernels.map(_.name)

  /** The idempotent-register skip below backs off whenever a name is
    * already bound — and a session registry holds Spark's built-ins too,
    * so a graft builder whose name shadowed a built-in would silently
    * never register and the built-in would win (ADVICE r14). Checked once
    * against Spark's STATIC built-in registry (independent of anything
    * graft registers into sessions): a colliding name fails loudly at
    * first use instead of resolving to the wrong function forever.
    */
  private lazy val assertNoBuiltinCollision: Unit = {
    val builtin =
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val clashes = names
      .filter(n => builtin.functionExists(FunctionIdentifier(n)))
    require(clashes.isEmpty,
      s"graft function names shadow Spark built-ins: ${clashes.mkString(",")}" +
        " — the idempotent register() would silently skip them; rename")
  }

  /** Idempotent: `SparkEntry.queries` calls this before every row, so a
    * long-lived session (Verify/Bench run hundreds of queries) would
    * otherwise re-replace each name per query — harmless, but it emits a
    * `SimpleFunctionRegistry ... replaced` WARN per name per query, and
    * that spam is what drowned the r13 bench tail capture. Register a
    * name only when it is not already bound; sound because
    * [[assertNoBuiltinCollision]] guarantees an already-bound graft name
    * can only be graft's own earlier registration (imperative or via
    * [[GraftExtensions]] injection).
    */
  def register(spark: SparkSession): Unit = {
    assertNoBuiltinCollision
    val reg = spark.sessionState.functionRegistry
    kernels.foreach { k =>
      if (!reg.functionExists(FunctionIdentifier(k.name)))
        reg.createOrReplaceTempFunction(k.name, builder(k), "built-in")
    }
  }

  /** The `SparkSessionExtensions` path: same table, catalog-injected at
    * session construction.
    */
  def injectInto(ext: SparkSessionExtensions): Unit = {
    assertNoBuiltinCollision
    kernels.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo("graft.functions", k.name), builder(k)))
    }
  }

  /** Wrappers assume the functions are installed in the active session. */
  def rolling_hash(c: Column): Column = call_function("rolling_hash", c)
  def simhash64(c: Column): Column = call_function("simhash64", c)
  def minhash64(c: Column, k: Int): Column =
    call_function("minhash64", c, org.apache.spark.sql.functions.lit(k))
  def word_shingles(c: Column, n: Int): Column =
    call_function("word_shingles", c, org.apache.spark.sql.functions.lit(n))
  def char_grams(c: Column, q: Int): Column =
    call_function("char_grams", c, org.apache.spark.sql.functions.lit(q))
  def cdc_cuts(c: Column, w: Int): Column =
    call_function("cdc_cuts", c, org.apache.spark.sql.functions.lit(w))
  def max_run_count(c: Column): Column = call_function("max_run_count", c)
  def greedy_token_count(c: Column): Column =
    call_function("greedy_token_count", c)
  def bpe_token_count(c: Column): Column =
    call_function("bpe_token_count", c)
  def html_extract(c: Column): Column = call_function("html_extract", c)
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dot_product(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def hyperplane_bands(v: Column, bands: Int, rowsPerBand: Int, seed: Long): Column =
    call_function("hyperplane_bands", v,
      org.apache.spark.sql.functions.lit(bands),
      org.apache.spark.sql.functions.lit(rowsPerBand),
      org.apache.spark.sql.functions.lit(seed))

  /** Codegen bloom probe over a driver-built broadcast filter. The
    * [[kernels]] table can't carry a runtime object through literal
    * arguments, so each broadcast registers its own builder closure under
    * a broadcast-id-unique name — two filters alive in one session never
    * clobber each other's unresolved plans.
    *
    * Scoped-registration form (ADVICE r11): `build` receives the probe
    * (a `Column => Column`), constructs its DataFrame — Dataset
    * construction analyzes eagerly, inlining [[BloomMightContain]] into
    * the resolved plan — and the temp registration is dropped
    * IMMEDIATELY after, so a long-lived session calling the bloom tiers
    * repeatedly accumulates no registry entries. The broadcast itself is
    * handed to [[graft.Caches]]: it must outlive the caller's terminal
    * action (the plan holds the handle), and `Caches.releaseAll`
    * unpersists it with the same between-queries contract as dataset
    * caches.
    */
  def withBloomProbe(
      spark: SparkSession,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter])(
      build: (Column => Column) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val name = s"bloom_might_contain_b${bloom.id}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, es => BloomMightContain(es.head, bloom), "built-in")
    try build(c => call_function(name, c))
    finally {
      spark.sessionState.functionRegistry
        .dropFunction(FunctionIdentifier(name)): Unit
      graft.Caches.trackBroadcast(bloom)
    }
  }
}

/** Session-extensions installer (SURVEY §7.2's `SparkSessionExtensions`
  * path): `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * makes every graft function available in ANY session of the
  * application — no imperative register() call, the idiomatic way to ship
  * a function library to a shared cluster. `SessionContext.local` always
  * sets it.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.injectInto(ext)
    // conf-gated plan guardrails (no-ops until opted in; see each rule)
    ext.injectOptimizerRule(graft.plans.CartesianGuard.apply)
    // the reference's stage shape: build the small join side, sort small
    // results in the stage that reads them
    ext.injectPlannerStrategy(_ => graft.plans.FkJoinBuildSide)
    ext.injectRuntimeOptimizerRule(_ => graft.plans.OnePartitionSort)
  }
}


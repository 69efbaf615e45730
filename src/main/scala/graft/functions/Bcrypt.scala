package graft.functions

import java.math.BigInteger
import java.nio.charset.StandardCharsets

/** Pure-JVM bcrypt (Provos & Mazières, "A Future-Adaptable Password
  * Scheme", USENIX 1999; the OpenBSD `$2a$`/`$2b$` crypt scheme) — the
  * reference obfuscates PII with bcrypt + an env salt
  * (lib/pipeline_controller.py:183-197 via nypl-py-utils `obfuscate`),
  * and this build allows no external dependency, so the algorithm is
  * implemented from the public spec.
  *
  * The Blowfish P-array and S-boxes are the hexadecimal digits of π; they
  * are COMPUTED at first use (Machin's formula with BigInteger — ~0.5 s
  * once per JVM) instead of embedding 4 KiB of magic constants.
  * Correctness is pinned against vectors produced by libxcrypt
  * (BcryptSpec), not self-consistency.
  */
object Bcrypt {

  private val B64 =
    "./ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
  private val B64Inv: Array[Int] = {
    val inv = Array.fill(128)(-1)
    B64.zipWithIndex.foreach { case (c, i) => inv(c.toInt) = i }
    inv
  }

  /** First `n` 32-bit words of the fractional hex expansion of π:
    * π = 16·atan(1/5) − 4·atan(1/239) (Machin), evaluated as scaled
    * integers with enough guard bits that every emitted word is exact.
    */
  private[functions] def piWords(n: Int): Array[Int] = {
    val bits = 32 * n + 128
    val one = BigInteger.ONE.shiftLeft(bits)
    def atanInv(x: Int): BigInteger = {
      val x2 = BigInteger.valueOf(x.toLong * x)
      var term = one.divide(BigInteger.valueOf(x))
      var sum = term
      var k = 1
      var subtract = true
      while (term.signum != 0) {
        term = term.divide(x2)
        val t = term.divide(BigInteger.valueOf(2L * k + 1))
        sum = if (subtract) sum.subtract(t) else sum.add(t)
        subtract = !subtract
        k += 1
      }
      sum
    }
    val pi = atanInv(5).shiftLeft(4).subtract(atanInv(239).shiftLeft(2))
    val frac = pi.subtract(BigInteger.valueOf(3).shiftLeft(bits))
    val mask = BigInteger.valueOf(0xffffffffL)
    Array.tabulate(n)(i =>
      frac.shiftRight(bits - 32 * (i + 1)).and(mask).longValue.toInt)
  }

  // 18 P entries + 4×256 S entries, shared immutable master copy.
  private lazy val initialState: (Array[Int], Array[Array[Int]]) = {
    val w = piWords(18 + 4 * 256)
    val p = java.util.Arrays.copyOfRange(w, 0, 18)
    val s = Array.tabulate(4)(j =>
      java.util.Arrays.copyOfRange(w, 18 + 256 * j, 18 + 256 * (j + 1)))
    (p, s)
  }

  private def f(s: Array[Array[Int]], x: Int): Int =
    ((s(0)((x >>> 24) & 0xff) + s(1)((x >>> 16) & 0xff)) ^
      s(2)((x >>> 8) & 0xff)) + s(3)(x & 0xff)

  /** One Blowfish ECB encryption of the 64-bit block (l, r); result packed
    * hi←l', lo←r'.
    */
  private def encipher(p: Array[Int], s: Array[Array[Int]],
                       l0: Int, r0: Int): Long = {
    var l = l0
    var r = r0
    var i = 0
    while (i < 16) {
      l ^= p(i)
      r ^= f(s, l)
      val t = l; l = r; r = t
      i += 1
    }
    val t = l; l = r; r = t
    r ^= p(16)
    l ^= p(17)
    (l.toLong << 32) | (r.toLong & 0xffffffffL)
  }

  /** Big-endian 32-bit word from `data` starting at *off, cycling (the
    * OpenBSD Blowfish_stream2word).
    */
  private def nextWord(data: Array[Byte], off: Int): (Int, Int) = {
    var w = 0
    var o = off
    var i = 0
    while (i < 4) {
      w = (w << 8) | (data(o) & 0xff)
      o = (o + 1) % data.length
      i += 1
    }
    (w, o)
  }

  /** Blowfish_expandstate (salted) / Blowfish_expand0state (salt = null). */
  private def expandKey(p: Array[Int], s: Array[Array[Int]],
                        salt: Array[Byte], key: Array[Byte]): Unit = {
    var koff = 0
    var i = 0
    while (i < 18) {
      val (w, o) = nextWord(key, koff)
      p(i) ^= w
      koff = o
      i += 1
    }
    var soff = 0
    var lr = 0L
    def step(): Long = {
      var l = (lr >>> 32).toInt
      var r = lr.toInt
      if (salt != null) {
        val (wl, o1) = nextWord(salt, soff)
        val (wr, o2) = nextWord(salt, o1)
        soff = o2
        l ^= wl
        r ^= wr
      }
      encipher(p, s, l, r)
    }
    i = 0
    while (i < 18) {
      lr = step()
      p(i) = (lr >>> 32).toInt
      p(i + 1) = lr.toInt
      i += 2
    }
    var j = 0
    while (j < 4) {
      var k = 0
      while (k < 256) {
        lr = step()
        s(j)(k) = (lr >>> 32).toInt
        s(j)(k + 1) = lr.toInt
        k += 2
      }
      j += 1
    }
  }

  private def encodeB64(data: Array[Byte], len: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < len) {
      var c1 = data(i) & 0xff
      sb.append(B64(c1 >> 2))
      c1 = (c1 & 0x03) << 4
      if (i + 1 >= len) { sb.append(B64(c1)); return sb.toString }
      var c2 = data(i + 1) & 0xff
      sb.append(B64(c1 | (c2 >> 4)))
      c2 = (c2 & 0x0f) << 2
      if (i + 2 >= len) { sb.append(B64(c2)); return sb.toString }
      val c3 = data(i + 2) & 0xff
      sb.append(B64(c2 | (c3 >> 6)))
      sb.append(B64(c3 & 0x3f))
      i += 3
    }
    sb.toString
  }

  private def decodeB64(s: String, outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var i = 0
    var o = 0
    while (o < outLen) {
      val c1 = B64Inv(s.charAt(i))
      val c2 = B64Inv(s.charAt(i + 1))
      out(o) = ((c1 << 2) | (c2 >> 4)).toByte
      o += 1
      if (o < outLen) {
        val c3 = B64Inv(s.charAt(i + 2))
        out(o) = (((c2 & 0x0f) << 4) | (c3 >> 2)).toByte
        o += 1
        if (o < outLen) {
          val c4 = B64Inv(s.charAt(i + 3))
          out(o) = (((c3 & 0x03) << 6) | c4).toByte
          o += 1
        }
      }
      i += 4
    }
    out
  }

  private val Magic = "OrpheanBeholderScryDoubt".getBytes(StandardCharsets.US_ASCII)

  /** The cost of a `$2a$NN$`/`$2b$NN$` salt string (29+ chars, cost
    * 4–31); any other shape is an IllegalArgumentException.
    */
  def checkSalt(salt: String): Int = {
    require(salt.length >= 29 && salt.startsWith("$2")
      && (salt.charAt(2) == 'a' || salt.charAt(2) == 'b')
      && salt.charAt(3) == '$' && salt.charAt(6) == '$',
      s"malformed bcrypt salt: expected $$2a$$NN$$ or $$2b$$NN$$ prefix")
    val cost = salt.substring(4, 6).toInt
    require(cost >= 4 && cost <= 31, s"bcrypt cost out of range: $cost")
    cost
  }

  /** bcrypt(password, salt-string) → full crypt string, e.g.
    * `hashpw("pw", "$2b$12$<22 chars>")` →
    * `"$2b$12$<22 chars><31-char digest>"`. Supports `$2a$` and `$2b$`
    * (identical for ≤72-byte passwords; both cap at 72 here).
    */
  def hashpw(password: String, salt: String): String = {
    val cost = checkSalt(salt)
    val saltBytes = decodeB64(salt.substring(7, 29), 16)

    val pwBytes0 = password.getBytes(StandardCharsets.UTF_8)
    val pwLen = math.min(pwBytes0.length, 72)
    val key = new Array[Byte](pwLen + 1) // null terminator joins the cycle
    System.arraycopy(pwBytes0, 0, key, 0, pwLen)

    val p = initialState._1.clone()
    val s = initialState._2.map(_.clone())
    expandKey(p, s, saltBytes, key)
    var round = 0L
    val rounds = 1L << cost
    while (round < rounds) {
      expandKey(p, s, null, key)
      expandKey(p, s, null, saltBytes)
      round += 1
    }

    val words = new Array[Int](6)
    var i = 0
    while (i < 6) {
      words(i) = ((Magic(4 * i) & 0xff) << 24) | ((Magic(4 * i + 1) & 0xff) << 16) |
        ((Magic(4 * i + 2) & 0xff) << 8) | (Magic(4 * i + 3) & 0xff)
      i += 1
    }
    i = 0
    while (i < 64) {
      var j = 0
      while (j < 3) {
        val lr = encipher(p, s, words(2 * j), words(2 * j + 1))
        words(2 * j) = (lr >>> 32).toInt
        words(2 * j + 1) = lr.toInt
        j += 1
      }
      i += 1
    }
    val ct = new Array[Byte](24)
    i = 0
    while (i < 6) {
      ct(4 * i) = (words(i) >>> 24).toByte
      ct(4 * i + 1) = (words(i) >>> 16).toByte
      ct(4 * i + 2) = (words(i) >>> 8).toByte
      ct(4 * i + 3) = words(i).toByte
      i += 1
    }
    // re-encode the salt: crypt canonicalizes the 22nd char (only 2 of
    // its 6 bits land in the 16th salt byte)
    salt.substring(0, 7) + encodeB64(saltBytes, 16) + encodeB64(ct, 23)
  }
}

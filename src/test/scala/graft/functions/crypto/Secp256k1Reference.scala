package graft.functions.crypto

// The BigInt implementation that the limb kernel in src/main replaced,
// kept verbatim (object renamed) as Secp256k1DiffSpec's reference.
/** secp256k1 ECDSA public-key recovery and (fixture) signing, from the
  * public SEC 2 curve parameters and the standard ECDSA equations. Used
  * to re-express the reference's signed-mutation sender recovery
  * (DB3 node/src/mutation_utils.rs:75-127
  * `Signature::recover_typed_data`) as a Spark-side kernel.
  *
  * Arithmetic is Jacobian-coordinate (one modular inversion per scalar
  * multiplication, not per point add) with a precomputed 4-bit windowed
  * table for the fixed base G, so a recovery costs one fixed-base and
  * one variable-base multiplication — sub-millisecond per row, and
  * embarrassingly parallel across executors.
  *
  * The signer here uses a deterministic derived k (keccak of key‖digest)
  * so test fixtures are reproducible; it is a test-data generator, not a
  * hardened production signer (no RFC 6979 / constant-time claims).
  */
object Secp256k1Reference {

  val P: BigInt = BigInt(
    "fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
  val N: BigInt = BigInt(
    "fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
  val Gx: BigInt = BigInt(
    "79be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798", 16)
  val Gy: BigInt = BigInt(
    "483ada7726a3c4655da4fbfc0e1108a8fd17b448a68554199c47d08ffb10d4b8", 16)

  private val halfN = N >> 1
  private val ySqrtExp = (P + 1) >> 2 // p ≡ 3 (mod 4): sqrt = pow((p+1)/4)

  /** Jacobian point; z == 0 encodes the point at infinity. */
  final case class JPoint(x: BigInt, y: BigInt, z: BigInt) {
    def isInfinity: Boolean = z.signum == 0
  }
  private val Infinity = JPoint(BigInt(1), BigInt(1), BigInt(0))

  final case class APoint(x: BigInt, y: BigInt)

  private def doublePoint(p: JPoint): JPoint = {
    if (p.isInfinity || p.y.signum == 0) return Infinity
    val a = p.x * p.x mod P
    val b = p.y * p.y mod P
    val c = b * b mod P
    val d = (((p.x + b) * (p.x + b) - a - c) * 2) mod P
    val e = a * 3 mod P
    val x3 = (e * e - 2 * d) mod P
    val y3 = (e * (d - x3) - 8 * c) mod P
    val z3 = (2 * p.y * p.z) mod P
    JPoint(x3, y3, z3)
  }

  private def addPoints(p: JPoint, q: JPoint): JPoint = {
    if (p.isInfinity) return q
    if (q.isInfinity) return p
    val z1z1 = p.z * p.z mod P
    val z2z2 = q.z * q.z mod P
    val u1 = p.x * z2z2 mod P
    val u2 = q.x * z1z1 mod P
    val s1 = p.y * z2z2 * q.z mod P
    val s2 = q.y * z1z1 * p.z mod P
    if (u1 == u2) {
      if (s1 != s2) return Infinity
      return doublePoint(p)
    }
    val h = (u2 - u1) mod P
    val r = (s2 - s1) mod P
    val h2 = h * h mod P
    val h3 = h2 * h mod P
    val x3 = (r * r - h3 - 2 * u1 * h2) mod P
    val y3 = (r * (u1 * h2 - x3) - s1 * h3) mod P
    val z3 = (h * p.z * q.z) mod P
    JPoint(x3, y3, z3)
  }

  /** Mixed add: q is affine (z == 1), saving two field squarings. */
  private def addMixed(p: JPoint, qx: BigInt, qy: BigInt): JPoint = {
    if (p.isInfinity) return JPoint(qx, qy, BigInt(1))
    val z1z1 = p.z * p.z mod P
    val u2 = qx * z1z1 mod P
    val s2 = qy * z1z1 * p.z mod P
    if (p.x == u2) {
      if (p.y != s2) return Infinity
      return doublePoint(p)
    }
    val h = (u2 - p.x) mod P
    val r = (s2 - p.y) mod P
    val h2 = h * h mod P
    val h3 = h2 * h mod P
    val x3 = (r * r - h3 - 2 * p.x * h2) mod P
    val y3 = (r * (p.x * h2 - x3) - p.y * h3) mod P
    val z3 = (h * p.z) mod P
    JPoint(x3, y3, z3)
  }

  private def toAffine(p: JPoint): Option[APoint] = {
    if (p.isInfinity) return None
    val zi = p.z.modInverse(P)
    val zi2 = zi * zi mod P
    Some(APoint(p.x * zi2 mod P, p.y * zi2 * zi mod P))
  }

  /** Variable-base scalar multiplication, plain double-and-add. */
  private def mulVar(k0: BigInt, px: BigInt, py: BigInt): JPoint = {
    val k = k0 mod N
    if (k.signum == 0) return Infinity
    var acc = Infinity
    var i = k.bitLength - 1
    while (i >= 0) {
      acc = doublePoint(acc)
      if (k.testBit(i)) acc = addMixed(acc, px, py)
      i -= 1
    }
    acc
  }

  /** Fixed-base table: gTable(w)(d-1) = d * 16^w * G in affine, for
    * w ∈ [0,64), d ∈ [1,16). Built once per JVM (~1k points). */
  private lazy val gTable: Array[Array[APoint]] = {
    val table = Array.ofDim[APoint](64, 15)
    var base = JPoint(Gx, Gy, BigInt(1))
    var w = 0
    while (w < 64) {
      var acc = Infinity
      var d = 0
      while (d < 15) {
        acc = addPoints(acc, base)
        table(w)(d) = toAffine(acc).get
        d += 1
      }
      // base ← 16 * base
      var i = 0
      var b = base
      while (i < 4) { b = doublePoint(b); i += 1 }
      base = b
      w += 1
    }
    table
  }

  /** Fixed-base multiplication k*G via the 4-bit window table:
    * ~64 mixed adds, no doublings. */
  def mulG(k0: BigInt): JPoint = {
    val k = k0 mod N
    if (k.signum == 0) return Infinity
    var acc = Infinity
    var w = 0
    while (w < 64) {
      val d = ((k >> (4 * w)) & 0xf).toInt
      if (d > 0) {
        val p = gTable(w)(d - 1)
        acc = addMixed(acc, p.x, p.y)
      }
      w += 1
    }
    acc
  }

  private def pad32(b: Array[Byte]): Array[Byte] = {
    if (b.length == 32) b
    else if (b.length < 32) {
      val out = new Array[Byte](32)
      System.arraycopy(b, 0, out, 32 - b.length, b.length)
      out
    } else java.util.Arrays.copyOfRange(b, b.length - 32, b.length)
  }

  def toBytes32(v: BigInt): Array[Byte] = pad32(v.toByteArray)

  /** Ethereum address of an affine public key: low 20 bytes of
    * keccak256(x32 ‖ y32), rendered 0x-prefixed lowercase. */
  def pointToAddress(p: APoint): String = {
    val buf = new Array[Byte](64)
    System.arraycopy(toBytes32(p.x), 0, buf, 0, 32)
    System.arraycopy(toBytes32(p.y), 0, buf, 32, 32)
    val h = Keccak256.hash(buf)
    "0x" + Keccak256.hexLower(java.util.Arrays.copyOfRange(h, 12, 32))
  }

  /** Address of the public key for private scalar d. */
  def privToAddress(d: BigInt): String =
    pointToAddress(toAffine(mulG(d)).get)

  /** ECDSA public-key recovery (the ecrecover primitive): given the
    * 32-byte digest z, signature (r, s) and recovery id ∈ {0,1}
    * (parity of R.y), return the signer's address, or None if the
    * signature does not decode to a curve point. */
  def recoverAddress(z: BigInt, r: BigInt, s: BigInt, recId: Int): Option[String] = {
    if (r.signum <= 0 || r >= N || s.signum <= 0 || s >= N) return None
    val x = r // the r ≥ p − n overflow case is astronomically rare; reject
    if (x >= P) return None
    val ySq = (x * x * x + 7) mod P
    val y0 = ySq.modPow(ySqrtExp, P)
    if ((y0 * y0 mod P) != ySq) return None // x not on curve
    val y = if (y0.testBit(0) == ((recId & 1) == 1)) y0 else P - y0
    val rInv = r.modInverse(N)
    val u1 = (-z * rInv) mod N
    val u2 = (s * rInv) mod N
    val q = addPoints(mulG(u1), mulVar(u2, x, y))
    toAffine(q).map(pointToAddress)
  }

  /** Sign digest z with private scalar d; returns (r, s, recId) with
    * low-s normalization (the Ethereum malleability rule). k is derived
    * deterministically from (d, z) — reproducible fixtures. */
  def sign(z: BigInt, d: BigInt): (BigInt, BigInt, Int) = {
    var kSeed = new Array[Byte](64)
    System.arraycopy(toBytes32(d), 0, kSeed, 0, 32)
    System.arraycopy(toBytes32(z), 0, kSeed, 32, 32)
    var k = BigInt(1, Keccak256.hash(kSeed)) mod N
    var attempt = 0
    while (attempt < 64) {
      if (k.signum != 0) {
        val rp = toAffine(mulG(k))
        if (rp.isDefined) {
          val r = rp.get.x mod N
          if (r.signum != 0) {
            val s0 = (k.modInverse(N) * ((z mod N) + r * d)) mod N
            if (s0.signum != 0) {
              var recId = if (rp.get.y.testBit(0)) 1 else 0
              var s = s0
              if (s > halfN) { s = N - s; recId ^= 1 }
              return (r, s, recId)
            }
          }
        }
      }
      k = BigInt(1, Keccak256.hash(toBytes32(k))) mod N
      attempt += 1
    }
    throw new IllegalStateException("secp256k1 sign: could not derive k")
  }
}

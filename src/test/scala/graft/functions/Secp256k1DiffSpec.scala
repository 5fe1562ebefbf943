package graft.functions

import graft.functions.crypto.{Eip712, Keccak256, Secp256k1, Secp256k1Reference => Ref}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The limb kernel (`Secp256k1`) against the `BigInt` implementation it
  * replaced (`Secp256k1Reference`), on seeded cases: every `sign` and
  * every `recoverAddress` must return exactly what the reference does,
  * None included. The reference itself is checked on the public vectors
  * first, so agreement with it means agreement with the curve. */
class Secp256k1DiffSpec extends AnyFunSuite {

  private val N = Secp256k1.N
  private val P = Secp256k1.P
  private val Cases = 10000
  private val Chunks = 16
  private val BaseSeed = 8L

  private val edgeScalars: IndexedSeq[BigInt] =
    IndexedSeq(BigInt(1), N - 1, (N - 1) / 2, (N - 1) / 2 + 1) ++ (2 to 16).map(BigInt(_))

  private def scalar(rnd: Random): BigInt = BigInt(256, rnd).mod(N - 1) + 1

  private def pick[T](rnd: Random, xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private def hex(v: BigInt): String = v.toString(16)

  /** Affine x of k·G, through the reference's Jacobian point. */
  private def refX(k: BigInt): BigInt = {
    val j = Ref.mulG(k)
    val zi = j.z.modInverse(P)
    j.x * zi * zi mod P
  }

  private def onCurve(x: BigInt): Boolean = {
    val ySq = (x * x * x + 7) mod P
    ySq.modPow((P - 1) >> 1, P) == 1
  }

  /** Recover inputs of kind `kind` built from one reference signature
    * (z, r, s, v) by key d. */
  private def recoverCase(rnd: Random, kind: Int, z: BigInt, sig: (BigInt, BigInt, Int)):
      (String, BigInt, BigInt, BigInt, Int) = {
    val (r, s, v) = sig
    kind match {
      case 0 => ("valid", z, r, s, v)
      case 1 => ("flipped recId", z, r, s, v ^ 1)
      case 2 => ("high-s", z, r, N - s, v ^ rnd.nextInt(2))
      case 3 => ("random r and s", BigInt(256, rnd), BigInt(256, rnd), BigInt(256, rnd), rnd.nextInt(2))
      case 4 =>
        val bad = pick(rnd, IndexedSeq(BigInt(0), N, N + 1, N + BigInt(100, rnd),
          BigInt(2).pow(256) - 1))
        if (rnd.nextBoolean()) ("invalid r", z, bad, s, v) else ("invalid s", z, r, bad, v)
      case 5 =>
        var x = scalar(rnd)
        while (onCurve(x)) x = scalar(rnd)
        ("x off the curve", z, x, s, rnd.nextInt(2))
      case 6 =>
        // R = k·G with known k, and (z, s) chosen so that recovery runs
        // with the given u1 and u2: u1 = −z/r, u2 = s/r (mod n)
        val k = if (rnd.nextBoolean()) pick(rnd, edgeScalars) else scalar(rnd)
        val rx = refX(k)
        val u2 = if (rnd.nextBoolean()) pick(rnd, edgeScalars) else scalar(rnd)
        val u1 = rnd.nextInt(5) match {
          case 0 => BigInt(0)
          case 1 => (-u2 * k) mod N // u1·G = −u2·R for one parity: infinity
          case 2 => (u2 * k) mod N  // u1·G = u2·R for the other parity
          case _ => pick(rnd, edgeScalars)
        }
        ("edge u1/u2", (-u1 * rx) mod N, rx, (u2 * rx) mod N, rnd.nextInt(2))
      case _ => ("digest >= n", N + BigInt(120, rnd), r, s, v)
    }
  }

  /** Runs one chunk of seeded cases; returns the mismatches, each with
    * its seed, index and inputs. */
  private def runChunk(seed: Long, n: Int): (Seq[String], Map[String, (Int, Int)]) = {
    val rnd = new Random(seed)
    val bad = Seq.newBuilder[String]
    val tally = scala.collection.mutable.Map.empty[String, (Int, Int)].withDefaultValue((0, 0))
    for (i <- 0 until n) {
      val edgeKey = rnd.nextInt(4) == 0
      val d = if (edgeKey) pick(rnd, edgeScalars) else scalar(rnd)
      val z = if (rnd.nextInt(8) == 0) N + BigInt(120, rnd) else BigInt(256, rnd)
      val want = Ref.sign(z, d)
      val got = Secp256k1.sign(z, d)
      if (got != want)
        bad += s"seed $seed case $i: sign(z=${hex(z)}, d=${hex(d)}) = $got, reference $want"
      if (edgeKey && Secp256k1.privToAddress(d) != Ref.privToAddress(d))
        bad += s"seed $seed case $i: privToAddress(${hex(d)}) differs"
      val (kind, rz, rr, rs, rv) = recoverCase(rnd, i % 8, z, want)
      val refRec = Ref.recoverAddress(rz, rr, rs, rv)
      val rec = Secp256k1.recoverAddress(rz, rr, rs, rv)
      if (rec != refRec)
        bad += s"seed $seed case $i ($kind): recoverAddress(z=${hex(rz)}, r=${hex(rr)}, " +
          s"s=${hex(rs)}, recId=$rv) = $rec, reference $refRec"
      val (some, none) = tally(kind)
      tally(kind) = if (refRec.isDefined) (some + 1, none) else (some, none + 1)
    }
    (bad.result(), tally.toMap)
  }

  test("the BigInt reference reproduces the public vectors") {
    assert(Ref.privToAddress(BigInt(1)) === "0x7e5f4552091a69125d5dfcb7b8c2659029395bdf")
    assert(Ref.privToAddress(BigInt(
      "ac0974bec39a17e36ba4a6b4d238ff944bacb478cbed5efcae784d7bf4f2ff80", 16)) ===
      "0xf39fd6e51aad88f6f4ce6ab8827279cfffb92266")
    val cowAddr = "0xcd2a3d9f938e13cd947ec05abc7fe734df8dd826"
    assert(Ref.privToAddress(BigInt(1, Keccak256.hashUtf8("cow"))) === cowAddr)
    // the EIP-712 'Mail' example: published digest and signature
    val mailDigest = BigInt(
      "be609aee343fb3c4b28e1df9e632fca64fcfaede20f02e86244efddf30957bd2", 16)
    val (r, s, v) = Eip712.parseSignature(
      "0x4355c47d63924e8a72e509b65029052eb6c299d53a04e167c5775fd466751c9d07299936d304c153f6443dfa05f40ff007d72911b6f72307f996231605b915621c").get
    assert(Ref.recoverAddress(mailDigest, r, s, v) === Some(cowAddr))
    assert(Secp256k1.recoverAddress(mailDigest, r, s, v) === Some(cowAddr))
  }

  test(s"limb kernel equals the BigInt reference on $Cases seeded sign and recover cases") {
    val pool = Executors.newFixedThreadPool(math.min(4, Runtime.getRuntime.availableProcessors()))
    val results =
      try {
        val tasks = (0 until Chunks).map { c =>
          val call: Callable[(Seq[String], Map[String, (Int, Int)])] =
            () => runChunk(BaseSeed * 1000 + c, Cases / Chunks)
          call
        }
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    val mismatches = results.flatMap(_._1)
    assert(mismatches.isEmpty,
      s"${mismatches.length} mismatches; first:\n${mismatches.take(5).mkString("\n")}")
    val tally = results.flatMap(_._2).groupMapReduce(_._1)(_._2) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    assert(tally.values.map(t => t._1 + t._2).sum === Cases)
    // every kind ran, and each outcome the kinds are there to reach
    // occurred: recovery that succeeds and recovery that is refused
    assert(tally.keySet === Set("valid", "flipped recId", "high-s", "random r and s",
      "invalid r", "invalid s", "x off the curve", "edge u1/u2", "digest >= n"))
    assert(tally("valid")._2 === 0 && tally("digest >= n")._2 === 0)
    assert(tally("invalid r")._1 === 0 && tally("x off the curve")._1 === 0)
    assert(tally("edge u1/u2")._1 > 0 && tally("edge u1/u2")._2 > 0, tally("edge u1/u2"))
  }
}

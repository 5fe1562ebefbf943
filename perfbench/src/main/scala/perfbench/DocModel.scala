package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded document generator for the docdb workloads.
  *
  * Documents carry nested objects and arrays:
  * {{{ {"name":"u000042","rate":7,"city":"c3","active":true,
  *      "tags":["t1","t5"],"addr":{"zip":10042,"street":"s7"}} }}}
  * `name` is unique and never masked away, so it orders results
  * without ties. Updates mask a subset of the other top-level fields and
  * leave some masked fields out of the patch, which deletes them. */
final class DocGen(seed: Long) {
  val rnd = new Random(seed)
  private var next = 0
  val Rates = 100
  val Cities = 20
  val Tags = 30

  def doc(): String = {
    val k = next; next += 1
    s"""{"name":"u${f"$k%06d"}","rate":${rnd.nextInt(Rates)},"city":"c${rnd.nextInt(Cities)}",""" +
      s""""active":${rnd.nextBoolean()},"tags":${tags()},"addr":{"zip":${10000 + rnd.nextInt(1000)},"street":"s${rnd.nextInt(50)}"}}"""
  }

  private def tags(): String =
    Seq.fill(1 + rnd.nextInt(3))(s""""t${rnd.nextInt(Tags)}"""").distinct.mkString("[", ",", "]")

  /** A masked patch: (patch JSON, mask fields). */
  def patch(): (String, Seq[String]) = {
    val fields = Seq("rate", "city", "active", "tags", "addr")
    val mask = rnd.shuffle(fields).take(1 + rnd.nextInt(3)).sorted
    // a masked field left out of the patch is deleted from the doc
    val present = mask.filter(_ => rnd.nextInt(5) != 0)
    val body = present.map {
      case "rate" => s""""rate":${rnd.nextInt(Rates)}"""
      case "city" => s""""city":"c${rnd.nextInt(Cities)}""""
      case "active" => s""""active":${rnd.nextBoolean()}"""
      case "tags" => s""""tags":${tags()}"""
      case "addr" => s""""addr":{"zip":${10000 + rnd.nextInt(1000)},"street":"s${rnd.nextInt(50)}"}"""
    }
    (body.mkString("{", ",", "}"), mask)
  }
}

/** Reference model of a GraftDB collection: the live documents by id,
  * with the DocumentMask update semantics (masked fields are replaced
  * from the patch; masked fields absent from the patch are deleted; an
  * empty mask replaces the whole document). Query results are computed
  * here independently of the library's query compiler. */
final class DocModel {
  import DocModel._
  val docs = mutable.TreeMap[Long, ObjectNode]()
  /** Ids that were live once and are deleted now (ids are never reused). */
  val deleted = mutable.Set[Long]()

  def add(id: Long, json: String): Unit = docs(id) = parseObj(json)

  def update(id: Long, patch: String, mask: Seq[String]): Unit =
    docs.get(id).foreach { base =>
      val p = parseObj(patch)
      if (mask.isEmpty) docs(id) = p
      else mask.foreach { f =>
        val v = p.get(f)
        if (v == null) base.remove(f) else base.set[JsonNode](f, v)
      }
    }

  def delete(id: Long): Unit = if (docs.remove(id).isDefined) deleted += id

  def get(id: Long): Option[String] = docs.get(id).map(canonical)

  /** Field text as Spark's get_json_object returns it: strings bare,
    * other values as JSON text, missing as None. */
  def text(d: ObjectNode, path: String): Option[String] = {
    val n = path.split('.').foldLeft(d: JsonNode)((acc, k) => if (acc == null) null else acc.get(k))
    if (n == null || n.isNull) None
    else if (n.isTextual) Some(n.asText)
    else Some(Mapper.writeValueAsString(n))
  }

  def long(d: ObjectNode, path: String): Option[Long] =
    text(d, path).flatMap(_.toLongOption)

  def live: Iterator[(Long, ObjectNode)] = docs.iterator
}

object DocModel {
  val Mapper = new ObjectMapper()

  def parseObj(json: String): ObjectNode =
    Mapper.readTree(json).asInstanceOf[ObjectNode]

  /** JSON text with object keys sorted at every level, so documents
    * compare by content regardless of field order. */
  def canonical(n: JsonNode): String = {
    val sb = new StringBuilder
    def go(x: JsonNode): Unit =
      if (x.isObject) {
        sb += '{'
        x.fieldNames().asScala.toSeq.sorted.zipWithIndex.foreach { case (k, i) =>
          if (i > 0) sb += ','
          sb ++= Mapper.writeValueAsString(k) += ':'
          go(x.get(k))
        }
        sb += '}'
      } else if (x.isArray) {
        sb += '['
        x.elements().asScala.zipWithIndex.foreach { case (e, i) =>
          if (i > 0) sb += ','
          go(e)
        }
        sb += ']'
      } else sb ++= Mapper.writeValueAsString(x)
    go(n)
    sb.toString
  }

  def canonical(json: String): String = canonical(Mapper.readTree(json))
}

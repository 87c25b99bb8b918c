package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one codec of the small JSON sidecars the engine keeps next to its
  * data: the partition spec, the swap marker, the `lastUpdate` stamp and
  * the shingle/signature index specs. json4s-jackson ships with Spark, so
  * every string round-trips whatever it holds (a key column named `k,1`,
  * a path with a quote) and no field reader is written by hand.
  */
private[graft] object Sidecar {

  def write(fs: FileSystem, file: Path, json: JObject): Unit = {
    val out = fs.create(file, true)
    try out.write(JsonMethods.compact(json).getBytes(UTF_8)) finally out.close()
  }

  /** The file's JSON, or JNothing when the file is absent or does not
    * parse, so every field of it reads as missing.
    */
  def read(fs: FileSystem, file: Path): JValue =
    if (!fs.exists(file)) JNothing
    else {
      val in = fs.open(file)
      val txt = try new String(in.readAllBytes(), UTF_8) finally in.close()
      JsonMethods.parseOpt(txt).getOrElse(JNothing)
    }

  def string(json: JValue, key: String): Option[String] =
    json \ key match { case JString(s) => Some(s); case _ => None }

  def int(json: JValue, key: String): Option[Int] =
    json \ key match { case JInt(n) if n.isValidInt => Some(n.toInt); case _ => None }

  def strings(json: JValue, key: String): Option[Seq[String]] =
    json \ key match {
      case JArray(xs) => Some(xs.collect { case JString(s) => s }).filter(_.length == xs.length)
      case _ => None
    }

  def ints(json: JValue, key: String): Option[Seq[Int]] =
    json \ key match {
      case JArray(xs) =>
        Some(xs.collect { case JInt(n) if n.isValidInt => n.toInt }).filter(_.length == xs.length)
      case _ => None
    }
}

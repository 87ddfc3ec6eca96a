package graft.config

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The configuration layer: a validated hierarchical parameter tree
  * with `@`-reference resolution, right-biased deep merge (variant
  * overlay), and unit-carrying Quantity / SkyCoord parsing.
  *
  * Mirrors the reference's semantics:
  *  - block tree + reference resolution:
  *    /root/reference/src/cosmap/config/block.py:10-69
  *  - right-biased recursive merge (variants/defaults):
  *    /root/reference/src/cosmap/analysis/manage.py:335-351 and
  *    /root/reference/src/cosmap/analysis/utils.py:55-65
  *  - Quantity {"value": v, "units": u} and SkyCoord
  *    {"coordinate": [ra, dec], "units": [...]}:
  *    /root/reference/src/cosmap/config/models/sky.py:10-86
  *
  * Units are normalized to canonical degrees AT PARSE TIME — the
  * runtime carries plain doubles (the reference converts at use
  * sites, e.g. `.to(u.radian)` sampler.py:92; a runtime unit algebra
  * is unnecessary, SURVEY.md §1.2).
  */
object ConfigTree {

  type Tree = Map[String, Any] // values: Tree | Seq[Any] | String | Double | Long | Boolean | null

  def parse(json: String): Tree = fromJValue(JsonMethods.parse(json)) match {
    case t: Map[_, _] => t.asInstanceOf[Tree]
    case other => throw new IllegalArgumentException(s"config root must be an object, got $other")
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped, so a tab or CR in a query's SQL, a stage
    * name or an analysis name never breaks a reader's json.load. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Parse a config file by extension — `.json` or `.toml`, like the
    * reference's run_analysis dispatch
    * (/root/reference/src/cosmap/api/cmds.py:21-29). Both routes
    * produce the identical Tree shape (integer → Long, float →
    * Double), so everything downstream (merge, `@`-refs, quantities)
    * is format-agnostic. */
  def parseFile(path: java.nio.file.Path): Tree = {
    val content = java.nio.file.Files.readString(path)
    val name = path.getFileName.toString
    if (name.endsWith(".json")) parse(content)
    else if (name.endsWith(".toml")) Toml.parse(content)
    else throw new IllegalArgumentException(
      s"Could not parse the analysis config $path: expect a toml or json file")
  }

  private def fromJValue(v: JValue): Any = v match {
    case JObject(fields) => fields.map { case (k, x) => k -> fromJValue(x) }.toMap
    case JArray(xs)      => xs.map(fromJValue)
    case JString(s)      => s
    case JInt(i)         => i.longValue
    case JLong(l)        => l
    case JDouble(d)      => d
    case JDecimal(d)     => d.doubleValue
    case JBool(b)        => b
    case JNull | JNothing => null
    case JSet(xs)        => xs.map(fromJValue).toList
  }

  /** Right-biased deep merge: overlay wins on conflicts; nested maps
    * merge recursively (manage.py:335-351). */
  def deepMerge(base: Tree, overlay: Tree): Tree =
    (base.keySet ++ overlay.keySet).map { k =>
      k -> ((base.get(k), overlay.get(k)) match {
        case (Some(b: Map[_, _]), Some(o: Map[_, _])) =>
          deepMerge(b.asInstanceOf[Tree], o.asInstanceOf[Tree])
        case (_, Some(o)) => o
        case (Some(b), None) => b
        case _ => null
      })
    }.toMap

  /** Dotted-path lookup ("Main.radius"). */
  def getPath(tree: Tree, path: String): Option[Any] = {
    val parts = path.split('.')
    parts.foldLeft(Option(tree: Any)) {
      case (Some(m: Map[_, _]), p) => m.asInstanceOf[Tree].get(p)
      case _ => None
    }
  }

  /** Resolve `"@Main.radius"`-style string references anywhere in the
    * tree against the tree's own values (block.py:37-69). References
    * to references resolve iteratively; unresolvable or cyclic
    * references raise. */
  def resolveRefs(tree: Tree, maxDepth: Int = 10): Tree = {
    def resolveValue(v: Any, root: Tree, depth: Int): Any = v match {
      case s: String if s.startsWith("@") =>
        if (depth >= maxDepth)
          throw new IllegalArgumentException(s"reference cycle or too deep at $s")
        getPath(root, s.drop(1)) match {
          case Some(target) => resolveValue(target, root, depth + 1)
          case None => throw new IllegalArgumentException(s"unresolvable reference $s")
        }
      case m: Map[_, _] =>
        m.asInstanceOf[Tree].map { case (k, x) => k -> resolveValue(x, root, depth) }
      case xs: Seq[_] => xs.map(resolveValue(_, root, depth))
      case other => other
    }
    resolveValue(tree, tree, 0).asInstanceOf[Tree]
  }

  // ---- unit-carrying values ----------------------------------------

  private val degreesPer: Map[String, Double] = Map(
    "deg" -> 1.0, "degree" -> 1.0, "degrees" -> 1.0,
    "arcmin" -> 1.0 / 60.0, "arcminute" -> 1.0 / 60.0,
    "arcsec" -> 1.0 / 3600.0, "arcsecond" -> 1.0 / 3600.0,
    "rad" -> 180.0 / math.Pi, "radian" -> 180.0 / math.Pi)

  private def toDouble(v: Any, what: String): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: BigInt => i.toDouble
    case other => throw new IllegalArgumentException(s"$what: expected number, got $other")
  }

  /** `{"value": v, "units": "arcmin"}` (or a bare number, treated as
    * degrees) → degrees. */
  def parseQuantityDeg(v: Any): Double = v match {
    case m: Map[_, _] =>
      val t = m.asInstanceOf[Tree]
      val value = toDouble(t.getOrElse("value",
        throw new IllegalArgumentException(s"Quantity missing 'value': $t")), "Quantity.value")
      val unit = t.getOrElse("units", "deg").toString
      val factor = degreesPer.getOrElse(unit,
        throw new IllegalArgumentException(s"unknown angular unit '$unit'"))
      value * factor
    case other => toDouble(other, "Quantity")
  }

  /** `{"coordinate": [ra, dec], "units": ["deg", "deg"]}` → (ra, dec)
    * in degrees. A single unit string applies to both axes. */
  def parseSkyCoordDeg(v: Any): (Double, Double) = v match {
    case m: Map[_, _] =>
      val t = m.asInstanceOf[Tree]
      val coord = t.getOrElse("coordinate",
        throw new IllegalArgumentException(s"SkyCoord missing 'coordinate': $t")) match {
        case xs: Seq[_] if xs.length == 2 => xs
        case other => throw new IllegalArgumentException(s"SkyCoord coordinate must be [ra, dec], got $other")
      }
      val units: Seq[String] = t.get("units") match {
        case Some(xs: Seq[_]) => xs.map(_.toString)
        case Some(s: String)  => Seq(s, s)
        case None             => Seq("deg", "deg")
        case Some(other) => throw new IllegalArgumentException(s"bad SkyCoord units $other")
      }
      def conv(x: Any, u: String) = toDouble(x, "SkyCoord") * degreesPer.getOrElse(u,
        throw new IllegalArgumentException(s"unknown angular unit '$u'"))
      (conv(coord.head, units.head), conv(coord(1), units(1)))
    case other => throw new IllegalArgumentException(s"SkyCoord: expected object, got $other")
  }
}

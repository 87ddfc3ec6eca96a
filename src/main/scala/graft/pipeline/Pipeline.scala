package graft.pipeline

import graft.config.ConfigTree
import graft.config.ConfigTree.Tree

/** One transformation node in a pipeline spec — the unit of the
  * reference's declarative DAG language
  * (/root/reference/README.md:82-103; parsed by the engine at
  * /root/reference/src/cosmap/analysis/utils.py:120-229).
  *
  * `dependencies` supports both the list form (arg name = dep name)
  * and the dict form with output aliasing ({"compute_radius":
  * "catalog"} passes compute_radius's output as arg `catalog`,
  * utils.py:140-145,195-199).
  */
final case class TransformSpec(
    name: String,
    dependencies: Map[String, String],
    neededData: Seq[String],
    neededParams: Seq[String],
    optionalParams: Seq[String],
    isOutput: Boolean,
    outputName: Option[String],
    op: Option[Tree]) {
  def argNameFor(dep: String): String = dependencies.getOrElse(dep, dep)
}

object PipelineSpec {

  /** Parse a transformations.json-shaped document:
    * { "Main": { nodeName: {spec...}, ... }, "Setup": {...} } */
  def fromJson(json: String): Map[String, Seq[TransformSpec]] =
    fromTree(ConfigTree.parse(json))

  /** [[fromJson]] over an already parsed document. */
  def fromTree(tree: Tree): Map[String, Seq[TransformSpec]] =
    tree.map {
      case (block, nodes: Map[_, _]) =>
        block -> nodes.asInstanceOf[Tree].map {
          case (name, spec: Map[_, _]) => parseNode(name, spec.asInstanceOf[Tree])
          case (name, bad) =>
            throw new IllegalArgumentException(s"node $name: expected object, got $bad")
        }.toSeq.sortBy(_.name)
      case (block, bad) =>
        throw new IllegalArgumentException(s"block $block: expected object, got $bad")
    }

  private def strSeq(v: Any, what: String): Seq[String] = v match {
    case null => Nil
    case xs: Seq[_] => xs.map(_.toString)
    case s: String => Seq(s)
    case other => throw new IllegalArgumentException(s"$what: expected list, got $other")
  }

  private def parseNode(name: String, spec: Tree): TransformSpec = {
    val deps: Map[String, String] = spec.get("dependencies") match {
      case None => Map.empty
      case Some(xs: Seq[_]) => xs.map(d => d.toString -> d.toString).toMap
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Tree].map { case (k, v) => k -> v.toString }
      case Some(other) =>
        throw new IllegalArgumentException(s"$name.dependencies: bad form $other")
    }
    TransformSpec(
      name = name,
      dependencies = deps,
      neededData = strSeq(spec.getOrElse("needed-data", null), s"$name.needed-data"),
      neededParams = strSeq(spec.getOrElse("needed-parameters", null), s"$name.needed-parameters"),
      optionalParams = strSeq(spec.getOrElse("optional-parameters", null), s"$name.optional-parameters"),
      isOutput = spec.get("is-output").orElse(spec.get("output")).exists {
        case b: Boolean => b
        case s: String => s.toBoolean
        case _ => false
      },
      outputName = spec.get("output-name").map(_.toString),
      op = spec.get("op").map(_.asInstanceOf[Tree]))
  }
}

/** A registered Scala transformation: args (bound by the compiler per
  * the reference's contract) → output. Outputs may be DataFrames —
  * mid-DAG table-valued transforms are first-class, as in the
  * reference where any dependency output may be an astropy Table
  * (SURVEY.md §2.10 "hard parts" #2). */
trait Transform {
  def apply(args: Map[String, Any]): Any
}

object Transform {
  def apply(f: Map[String, Any] => Any): Transform = (args: Map[String, Any]) => f(args)
}

final class TransformRegistry private (impls: Map[String, Transform]) {
  def get(name: String): Option[Transform] = impls.get(name)
  def contains(name: String): Boolean = impls.contains(name)
  def register(name: String, t: Transform): TransformRegistry =
    new TransformRegistry(impls + (name -> t))
}

object TransformRegistry {
  def empty: TransformRegistry = new TransformRegistry(Map.empty)
  def apply(entries: (String, Transform)*): TransformRegistry =
    new TransformRegistry(entries.toMap)
}

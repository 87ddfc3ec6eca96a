package graft.pipeline

import graft.config.ConfigTree
import graft.config.ConfigTree.Tree

/** Plan-time validation + execution of a pipeline block.
  *
  * Reference semantics implemented here (SURVEY.md §2.10):
  *  - cycle check (Kahn) — networkx is_directed_acyclic_graph at
  *    /root/reference/src/cosmap/analysis/dependencies.py:60-62
  *  - exactly the last topological node is the output —
  *    /root/reference/src/cosmap/analysis/task.py:104-107
  *  - spec↔impl agreement (every spec'd node has an implementation) —
  *    /root/reference/src/cosmap/analysis/analysis.py:93-126
  *  - argument binding (deps with aliasing, needed-data,
  *    needed/optional parameters by dotted path with Main-vs-analysis
  *    routing, the special "all" value) —
  *    /root/reference/src/cosmap/analysis/utils.py:120-229
  *  - Setup block: driver-side pre-pass whose sink nodes (out-degree
  *    0 or output:true) become new parameters, with `output-name`
  *    renaming — /root/reference/src/cosmap/analysis/setup.py:12-55,
  *    spliced via analysis.py:53-67,128-148
  */
object DagCompiler {

  final case class PipelineError(msg: String) extends RuntimeException(msg)

  /** Deterministic Kahn topological sort; raises on cycles. */
  def topoSort(specs: Seq[TransformSpec]): Seq[TransformSpec] = {
    val byName = specs.map(s => s.name -> s).toMap
    specs.foreach(s => s.dependencies.keys.foreach { d =>
      if (!byName.contains(d))
        throw PipelineError(s"node '${s.name}' depends on unknown node '$d'")
    })
    val inDeg = scala.collection.mutable.Map(
      specs.map(s => s.name -> s.dependencies.size): _*)
    val out: Map[String, Seq[String]] = specs
      .flatMap(s => s.dependencies.keys.map(_ -> s.name))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val ready = scala.collection.mutable.PriorityQueue(
      specs.filter(_.dependencies.isEmpty).map(_.name): _*)(Ordering[String].reverse)
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      order += n
      out.getOrElse(n, Nil).foreach { m =>
        inDeg(m) -= 1
        if (inDeg(m) == 0) ready.enqueue(m)
      }
    }
    if (order.size != specs.size) {
      val stuck = specs.map(_.name).filterNot(order.contains).sorted
      throw PipelineError(s"transformation graph has a cycle involving: ${stuck.mkString(", ")}")
    }
    order.map(byName).toSeq
  }

  /** The output node must be exactly the final topological node
    * (task.py:104-107). */
  def validateOutput(ordered: Seq[TransformSpec]): Unit = {
    val outputs = ordered.filter(_.isOutput)
    if (outputs.isEmpty)
      throw PipelineError("no node is marked is-output")
    if (outputs.size > 1)
      throw PipelineError(s"multiple output nodes: ${outputs.map(_.name).mkString(", ")}")
    if (!ordered.last.isOutput)
      throw PipelineError(
        s"output node '${outputs.head.name}' is not the final node " +
          s"('${ordered.last.name}' runs after it)")
  }

  /** Every spec'd node needs an implementation: a registered
    * transform, or a builtin `op` (analysis.py:93-126). */
  def checkSpecImpl(specs: Seq[TransformSpec], registry: TransformRegistry): Unit = {
    val missing = specs.filter(s => s.op.isEmpty && !registry.contains(s.name))
    if (missing.nonEmpty)
      throw PipelineError(
        s"transformations declared but not implemented: ${missing.map(_.name).sorted.mkString(", ")}")
  }

  /** Bind one node's arguments (utils.py:120-229):
    *  - upstream dependency outputs under their (possibly aliased) names
    *  - needed-data entries from the `data` map
    *  - needed-parameters: dotted path → lookup from the tree root;
    *    bare name → lookup under the analysis block
    *    ("analysis_parameters", utils.py:149-154); the special value
    *    "all" injects the whole parameter tree as `parameters`;
    *    missing → error
    *  - optional-parameters: same lookup, missing → null
    *  - `extras` (e.g. sample_region) injected into every call
    *    (task.py:185)
    */
  def bindArgs(spec: TransformSpec, produced: Map[String, Any],
               data: Map[String, Any], params: Tree,
               extras: Map[String, Any],
               analysisKey: String = "analysis_parameters"): Map[String, Any] = {
    def lookup(path: String): Option[Any] =
      if (path == "all") Some(params)
      else if (path.contains('.')) ConfigTree.getPath(params, path)
      else ConfigTree.getPath(params, s"$analysisKey.$path")
        .orElse(ConfigTree.getPath(params, path))

    val depArgs = spec.dependencies.map { case (dep, alias) =>
      alias -> produced.getOrElse(dep,
        throw PipelineError(s"${spec.name}: dependency '$dep' produced no output"))
    }
    val dataArgs = spec.neededData.map { d =>
      d -> data.getOrElse(d,
        throw PipelineError(s"${spec.name}: needed-data '$d' not available"))
    }.toMap
    val needed = spec.neededParams.map { p =>
      val key = if (p == "all") "parameters" else p.split('.').last
      key -> lookup(p).getOrElse(
        throw PipelineError(s"${spec.name}: required parameter '$p' missing"))
    }.toMap
    val optional = spec.optionalParams.map { p =>
      p.split('.').last -> lookup(p).orNull
    }.toMap
    optional ++ needed ++ dataArgs ++ depArgs ++ extras
  }

  /** Execute a block's nodes, already in topological order; returns
    * every node's output keyed by name. */
  private def runBlock(ordered: Seq[TransformSpec], registry: TransformRegistry,
                       data: Map[String, Any], params: Tree,
                       extras: Map[String, Any],
                       spark: Option[org.apache.spark.sql.SparkSession])
      : Map[String, Any] = {
    checkSpecImpl(ordered, registry)
    ordered.foldLeft(Map.empty[String, Any]) { (produced, s) =>
      val args = bindArgs(s, produced, data, params, extras)
      val impl = s.op match {
        case Some(opSpec) => BuiltinOps.compile(opSpec, spark.getOrElse(
          throw PipelineError(s"${s.name}: builtin op requires a SparkSession")))
        case None => registry.get(s.name).get
      }
      produced + (s.name -> impl(args))
    }
  }

  /** Run a full Main-block pipeline to its single output. */
  def runPipeline(specs: Seq[TransformSpec], registry: TransformRegistry,
                  data: Map[String, Any], params: Tree,
                  extras: Map[String, Any] = Map.empty,
                  spark: Option[org.apache.spark.sql.SparkSession] = None): Any = {
    val ordered = topoSort(specs)
    validateOutput(ordered)
    runBlock(ordered, registry, data, params, extras, spark)(ordered.last.name)
  }

  /** Driver-side Setup pre-pass: run the block, harvest sink nodes
    * (out-degree 0 or output:true), rename via output-name, splice
    * into the parameter tree under the analysis block (dotted
    * output-names splice at their full path). */
  def runSetup(specs: Seq[TransformSpec], registry: TransformRegistry,
               data: Map[String, Any], params: Tree,
               analysisKey: String = "analysis_parameters",
               spark: Option[org.apache.spark.sql.SparkSession] = None): Tree = {
    val ordered = topoSort(specs)
    val produced = runBlock(ordered, registry, data, params, Map.empty, spark)
    val hasDownstream = specs.flatMap(_.dependencies.keys).toSet
    val sinks = ordered.filter(s => s.isOutput || !hasDownstream.contains(s.name))
    sinks.foldLeft(params) { (tree, s) =>
      val name = s.outputName.getOrElse(s.name)
      val path = if (name.contains('.')) name else s"$analysisKey.$name"
      setPath(tree, path.split('.').toSeq, produced(s.name))
    }
  }

  private def setPath(tree: Tree, path: Seq[String], value: Any): Tree = path match {
    case Seq(last) => tree + (last -> value)
    case head +: rest =>
      val sub = tree.get(head) match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Tree]
        case _ => Map.empty[String, Any]
      }
      tree + (head -> setPath(sub, rest, value))
    case _ => tree
  }
}

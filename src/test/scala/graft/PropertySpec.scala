package graft

import graft.config.ConfigTree
import graft.domain.{SkyBounds, SphereSampler}
import graft.pipeline.{DagCompiler, TransformSpec}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY.md §5.3) via ScalaCheck. */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private def node(name: String, deps: Seq[String], isOutput: Boolean = false) =
    TransformSpec(name, deps.map(d => d -> d).toMap, Nil, Nil, Nil,
      isOutput, None, None)

  test("random DAGs: topoSort succeeds and orders every dep before its user") {
    // generate a random DAG by only allowing edges i -> j with i < j
    val genDag = for {
      n <- Gen.choose(1, 12)
      edges <- Gen.sequence[Seq[Seq[Int]], Seq[Int]]((0 until n).map(j =>
        Gen.someOf(0 until j).map(_.toSeq)))
    } yield (0 until n).map(j => node(s"t$j", edges(j).map(i => s"t$i")))
    check(Prop.forAll(genDag) { specs =>
      val order = DagCompiler.topoSort(specs).map(_.name)
      val pos = order.zipWithIndex.toMap
      specs.forall(s => s.dependencies.keys.forall(d => pos(d) < pos(s.name))) &&
        order.length == specs.length
    })
  }

  test("random cycles: topoSort always rejects") {
    // random DAG + one back edge closing a cycle
    val genCyclic = for {
      n <- Gen.choose(2, 10)
      lo <- Gen.choose(0, n - 2)
      hi <- Gen.choose(lo + 1, n - 1)
    } yield (0 until n).map { j =>
      val deps = (if (j == lo) Seq(s"t$hi") else Nil) ++
        (if (j > 0) Seq(s"t${j - 1}") else Nil)
      node(s"t$j", deps)
    }
    check(Prop.forAll(genCyclic) { specs =>
      Prop.throws(classOf[DagCompiler.PipelineError])(DagCompiler.topoSort(specs))
    })
  }

  private val genScalar: Gen[Any] =
    Gen.oneOf(Gen.long.map(x => x: Any), Gen.alphaStr.map(x => x: Any),
      Gen.double.map(x => x: Any))

  private def genTree(depth: Int): Gen[ConfigTree.Tree] =
    Gen.mapOf(Gen.zip(Gen.identifier.map(_.take(4)),
      if (depth <= 0) genScalar
      else Gen.frequency(3 -> genScalar, 1 -> genTree(depth - 1).map(x => x: Any))
    )).map(_.take(5))

  test("deepMerge: right bias (overlay keys always win) and associativity") {
    check(Prop.forAll(genTree(2), genTree(2), genTree(2)) { (a, b, c) =>
      val rightBias = ConfigTree.deepMerge(a, b).forall { case (k, v) =>
        b.get(k) match {
          case Some(ov) if !ov.isInstanceOf[Map[_, _]] => v == ov
          case _ => true
        }
      }
      val assoc = ConfigTree.deepMerge(ConfigTree.deepMerge(a, b), c) ==
        ConfigTree.deepMerge(a, ConfigTree.deepMerge(b, c))
      rightBias && assoc
    }, n = 100)
  }

  test("frame shrink: any sampled center keeps its whole circle inside bounds") {
    val genCase = for {
      raMin <- Gen.choose(0.0, 300.0)
      raW <- Gen.choose(5.0, 50.0)
      decMin <- Gen.choose(-80.0, 70.0)
      decH <- Gen.choose(5.0, math.min(85.0 - decMin, 20.0))
      r <- Gen.choose(0.01, 2.0)
      fRa <- Gen.choose(0.0, 1.0)
      fDec <- Gen.choose(0.0, 1.0)
    } yield (SkyBounds(raMin, raMin + raW, decMin, decMin + decH), r, fRa, fDec)
    check(Prop.forAll(genCase) { case (bounds, r, fRa, fDec) =>
      val fTry =
        try SphereSampler.frame(bounds, r)
        catch {
          // region too small for this radius: a clean rejection IS the
          // correct behavior (the reference would invert the frame)
          case e: IllegalArgumentException if e.getMessage.contains("too small") =>
            null
        }
      val f = fTry
      if (f == null) true else {
      // any center inside the shrunk frame...
      val ra = f.raMin + fRa * (f.raMax - f.raMin)
      val dec = f.decMin + fDec * (f.decMax - f.decMin)
      // ...has its full circle inside the original bounds: dec trivially,
      // ra via the worst-case RA extent of the circle
      val raExtent = math.toDegrees(math.asin(math.min(1.0,
        math.sin(math.toRadians(r)) / math.cos(math.toRadians(
          math.min(89.9, math.abs(dec) + r))))))
      dec - r >= bounds.decMin - 1e-9 && dec + r <= bounds.decMax + 1e-9 &&
        ra - raExtent >= bounds.raMin - 1e-9 && ra + raExtent <= bounds.raMax + 1e-9
      }
    })
  }

  test("prefix-filter completeness: J >= 0.5 pairs always collide in their rarest-half prefixes") {
    // JVM mirror of the q44 candidate generation (Dedup.jaccardCandidates):
    // per-doc prefix = the floor(n/2)+1 rarest grams under the global
    // (df, gram) total order; the AllPairs/PPJoin theorem says every
    // pair with J >= 0.5 must share a prefix gram. Random small
    // universes probe boundary sizes the corpus never hits.
    val genDocs = for {
      nDocs <- Gen.choose(2, 10)
      docs <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(Gen.choose(0, 25)).map(_.toSet))
    } yield docs
    check(Prop.forAll(genDocs) { docs =>
      val df = docs.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def prefix(d: Set[Int]): Set[Int] =
        d.toSeq.sortBy(g => (df(g), g)).take(d.size / 2 + 1).toSet
      val pairs = for {
        i <- docs.indices; j <- docs.indices if i < j
        a = docs(i); b = docs(j)
        jac = (a & b).size.toDouble / (a | b).size
        if jac >= 0.5
      } yield (a, b)
      pairs.forall { case (a, b) =>
        (prefix(a) & prefix(b)).nonEmpty &&
          a.size <= 2 * b.size && b.size <= 2 * a.size // size filter keeps them too
      }
    })
  }

  test("lossless 2-band blocking: |len diff| <= B pairs share the canonical band") {
    // JVM mirror of q65's banding: bands(l) = {floor(l/B), floor((l+B)/B)};
    // any pair within tolerance B must share floor(max(la,lb)/B) — the
    // predicate the join uses instead of a distinct
    val genCase = for {
      b <- Gen.choose(1, 500)
      la <- Gen.choose(0, 100000)
      d <- Gen.choose(-500, 500) suchThat (d => math.abs(d) <= b)
    } yield (b, la, math.max(0, la + d))
    check(Prop.forAll(genCase) { case (b, la, lb) =>
      def bands(l: Int): Set[Long] = Set(l.toLong / b, (l.toLong + b) / b)
      val canonical = math.max(la, lb).toLong / b
      (math.abs(la - lb) > b) || // (clamp at 0 can widen the diff past B)
        (bands(la).contains(canonical) && bands(lb).contains(canonical))
    })
  }

  test("TOML parser totality: arbitrary input either parses or fails loudly (never hangs, never leaks)") {
    val genInput = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("k = 1", "[t]", "x=\"a\"", "[[i]]", "#c", "=",
        "k = [1,", "k = {", "k = 0xZZ", "k = 'open", "a.b = true", "\t",
        "k = \"\\q\"", "k = 1e", "[a.]")).map(_.mkString("\n")))
    check(Prop.forAll(genInput) { input =>
      try { graft.config.Toml.parse(input); true }
      catch {
        // the only acceptable failure mode is the parser's own typed
        // error (an IllegalArgumentException with position info)
        case _: graft.config.Toml.TomlParseException => true
        case _: Throwable => false
      }
    }, n = 500)
  }

  test("raPad soundness: pad >= true RA extent for random dec/radius") {
    // centers up to the poles: a cone within r of a pole contains it
    val genCase = for {
      dec <- Gen.choose(-90.0, 90.0)
      r <- Gen.choose(0.001, 10.0)
    } yield (dec, r)
    check(Prop.forAll(genCase) { case (dec, r) =>
      // true extent; 180° once the cone contains the pole
      val cosEdge = math.cos(math.toRadians(math.abs(dec)))
      val sinR = math.sin(math.toRadians(r))
      val trueExtent =
        if (sinR >= cosEdge) 180.0
        else math.toDegrees(math.asin(sinR / cosEdge))
      // JVM mirror of Sphere.raPad
      val edge = math.abs(dec) + r
      val pad =
        if (edge >= 90.0) 180.0
        else math.min(180.0, r / math.cos(math.toRadians(edge)))
      pad >= trueExtent - 1e-12
    })
  }
}

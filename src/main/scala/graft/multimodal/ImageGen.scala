package graft.multimodal

import graft.functions.SplitMix64Kernel

/** Deterministic synthetic image corpus — the q164 generator that
  * ties the multimodal dedup family to the SCALE FACTOR (round-9
  * verdict #2): one drawn PNG per `documents` row, composition seeded
  * by doc_id, near-dup pairs planted for a fixed fraction of groups.
  * The q156/q160 fixtures were scale-independent (240 images at every
  * sf); this corpus is 500/500/5000 images at sf0.001/0.01/0.1, so
  * the chunk-collision candidate join is exercised at real data
  * growth.
  *
  * TWO drawings coexist:
  *  - [[draw]] (three fills: background, one rectangle, one stripe) —
  *    the historical q156 fixture drawing; `graft.tools
  *    .GenImageFixture` delegates to [[drawPair]], so the checked-in
  *    fixtures stay byte-identical (MultimodalSpec's fixture-parity
  *    test pins it).
  *  - [[draw2]] (FOUR fills: background, a second rectangle drawn
  *    first, the near-dup rectangle, the stripe) — the round-11
  *    scaled-corpus drawing. The extra independent fill enlarges the
  *    composition space (round-10 advice #3): with three fills the
  *    19-dim feature space SATURATES and organic birthday collisions
  *    grow ~n² (probe-measured 256·k² in round 10); the fourth fill
  *    multiplies the census entropy so organic near-dups stay rare at
  *    higher sf and the gate's output tracks the ~n planted pairs.
  *    The second rectangle is drawn BEFORE the perturbed one, so the
  *    planted 1-px width grow is never hidden underneath it.
  *
  * THE ORACLE SEAM IS CLOSED-FORM, NOT A PINNED FIXTURE: because the
  * composition is axis-aligned fills, the exact pixel census of the
  * decoded image is region arithmetic — stripe rows × width, each
  * rectangle minus what later fills cover (1-D overlap products, plus
  * one inclusion–exclusion term for rect2 ∩ rect1 ∩ stripe) — so the
  * integer features ([[Multimodal.imageIntFeatures]]: milli-level
  * channel means + ppm luminance histogram) are a pure integer
  * FORMULA of doc_id that DuckDB evaluates directly
  * ([[featureSql]]). The engine path stays fully real (draw → PNG
  * encode → javax.imageio decode → pixel loop); the oracle replays
  * the geometry. [[featuresOf2]] is the Scala mirror of the same
  * closed form, and MultimodalSpec asserts decoded ≡ closed-form on
  * real drawn images — the seam is therefore VERIFIED, not assumed
  * (the q50/q156 honest-seam line, upgraded from "replay a pinned
  * file" to "replay the math").
  *
  * [[featureChainSql]] generalizes the SQL chain over arbitrary id
  * columns, so the scaled VIDEO corpus ([[VideoGen]]) rides the same
  * region arithmetic per (clip, segment, frame).
  */
object ImageGen {
  val W = 32
  val H = 24
  private val NPix = W * H // 768

  /** Salt base for the grouped (pair) stream — the q156 fixture's
    * historical constant (GenImageFixture round 9). */
  val PairBase = 0x1336F00DL
  /** Salt base for unique (unpaired) images in the scaled corpus. */
  val UniqBase = 0x164C0DEEL

  /** Planted-pair fraction: group g = id div 2 is a near-dup pair iff
    * g % PairMod == 0 (both members drawn from the group key, the odd
    * one's rectangle one pixel wider); all other images draw an
    * independent composition keyed by their own id. */
  val PairMod = 4L

  /** Deterministic parameter draw: floorMod(mix(base + key·131 +
    * salt), mod) — Java's ((m % mod) + mod) % mod on the SIGNED mixed
    * long (the fixture's historical convention; [[pSql]] replays the
    * sign handling explicitly because the oracle's mix is unsigned). */
  def p(key: Long, base: Long, salt: Long, mod: Int): Int = {
    val m = SplitMix64Kernel.mix(base + key * 131L + salt)
    (((m % mod) + mod) % mod).toInt
  }

  private def toPng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The 3-fill drawing, parameterized by (key, base, shift):
    * background fill, one rectangle (width +shift — the near-dup
    * perturbation that moves the FEATURES, per the round-9
    * shift-vs-grow lesson), one 2-row stripe on top. The q156 fixture
    * drawing — unchanged so the checked-in fixtures replay. */
  def draw(key: Long, base: Long, shift: Int): Array[Byte] = {
    def q(salt: Long, mod: Int): Int = p(key, base, salt, mod)
    val img = new java.awt.image.BufferedImage(
      W, H, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    g2.setColor(new java.awt.Color(q(1, 256), q(2, 256), q(3, 256)))
    g2.fillRect(0, 0, W, H)
    g2.setColor(new java.awt.Color(q(4, 256), q(5, 256), q(6, 256)))
    g2.fillRect(2 + q(7, W / 2), 2 + q(8, H / 2),
      4 + q(9, W / 4) + shift, 4 + q(10, H / 4))
    g2.setColor(new java.awt.Color(q(11, 256), q(12, 256), q(13, 256)))
    g2.fillRect(0, q(14, H), W, 2)
    g2.dispose()
    toPng(img)
  }

  /** The 4-fill scaled-corpus drawing (round-11): background, SECOND
    * rectangle (salts 15–21, drawn first among the rectangles), the
    * near-dup rectangle (width +shift), the stripe on top. Geometry
    * ranges match [[draw]]: x ≤ 17 + w ≤ 13 and y ≤ 13 + h ≤ 9, so no
    * rectangle ever clips at the canvas edge — only the stripe can,
    * at the bottom (the census accounts for it). */
  def draw2(key: Long, base: Long, shift: Int): Array[Byte] = {
    def q(salt: Long, mod: Int): Int = p(key, base, salt, mod)
    val img = new java.awt.image.BufferedImage(
      W, H, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    g2.setColor(new java.awt.Color(q(1, 256), q(2, 256), q(3, 256)))
    g2.fillRect(0, 0, W, H)
    g2.setColor(new java.awt.Color(q(15, 256), q(16, 256), q(17, 256)))
    g2.fillRect(2 + q(18, W / 2), 2 + q(19, H / 2),
      4 + q(20, W / 4), 4 + q(21, H / 4))
    g2.setColor(new java.awt.Color(q(4, 256), q(5, 256), q(6, 256)))
    g2.fillRect(2 + q(7, W / 2), 2 + q(8, H / 2),
      4 + q(9, W / 4) + shift, 4 + q(10, H / 4))
    g2.setColor(new java.awt.Color(q(11, 256), q(12, 256), q(13, 256)))
    g2.fillRect(0, q(14, H), W, 2)
    g2.dispose()
    toPng(img)
  }

  /** The q156 fixture drawing: group key = id div 2, the odd member's
    * rectangle one pixel wider. */
  def drawPair(id: Long): Array[Byte] =
    draw(id / 2, PairBase, (id % 2).toInt)

  /** The q164 scaled-corpus drawing (4-fill): planted pair groups draw
    * from the group key; everything else is an independent
    * composition. */
  def drawScaled(id: Long): Array[Byte] = {
    val g = id / 2
    if (g % PairMod == 0) draw2(g, PairBase, (id % 2).toInt)
    else draw2(id, UniqBase, 0)
  }

  // ---- closed-form features (the oracle side of the seam) ---------

  /** Integer census (means + luminance histogram) of a region list —
    * MUST mirror `Multimodal.intFeatureVec` over the decoded pixels:
    * d 0–2 milli-level channel means, d 3–18 ppm luminance histogram
    * (Rec.601 integer weights, 16 bins). */
  private def census(rs: Seq[(Long, Int, Int, Int)]): Seq[(Int, Long)] = {
    val means = (0 to 2).map { c =>
      val s = rs.map { case (a, r, g, b) =>
        a * Seq(r, g, b)(c).toLong }.sum
      (c, s * 1000L / NPix)
    }
    val hist = new Array[Long](16)
    rs.foreach { case (a, r, g, b) =>
      val lum = (r * 299 + g * 587 + b * 114) / 1000
      hist(lum * 16 / 256) += a
    }
    val shares = hist.toSeq.zipWithIndex.map { case (c, i) =>
      (3 + i, c * 1000000L / NPix)
    }
    means ++ shares
  }

  /** Exact region census of the 4-fill drawing. Paint order bg →
    * rect2 → rect1 → stripe, so: stripe = full rows; rect1 visible =
    * area minus its stripe y-overlap (stripe is full-width); rect2
    * visible = area − |∩rect1| − |∩stripe| + |∩rect1∩stripe|
    * (inclusion–exclusion; all intersections are products of 1-D
    * overlaps because everything is axis-aligned and the stripe spans
    * the full width). */
  private def regions2(key: Long, base: Long, shift: Int)
      : Seq[(Long, Int, Int, Int)] = {
    def q(salt: Long, mod: Int): Int = p(key, base, salt, mod)
    val x1 = 2 + q(7, W / 2); val y1 = 2 + q(8, H / 2)
    val w1 = 4 + q(9, W / 4) + shift; val h1 = 4 + q(10, H / 4)
    val x2 = 2 + q(18, W / 2); val y2 = 2 + q(19, H / 2)
    val w2 = 4 + q(20, W / 4); val h2 = 4 + q(21, H / 4)
    val ys = q(14, H)
    val rs = math.min(2, H - ys)
    val ov1 = math.max(0, math.min(y1 + h1, ys + rs) - math.max(y1, ys))
    val xov = math.max(0, math.min(x1 + w1, x2 + w2) - math.max(x1, x2))
    val yov = math.max(0, math.min(y1 + h1, y2 + h2) - math.max(y1, y2))
    val ov2s = math.max(0, math.min(y2 + h2, ys + rs) - math.max(y2, ys))
    val yov3 = math.max(0,
      math.min(math.min(y1 + h1, y2 + h2), ys + rs) -
        math.max(math.max(y1, y2), ys))
    val sa = (W * rs).toLong
    val rv1 = (w1 * (h1 - ov1)).toLong
    val rv2 = (w2 * h2 - xov * yov - w2 * ov2s + xov * yov3).toLong
    val bg = NPix - sa - rv1 - rv2
    Seq(
      (bg, q(1, 256), q(2, 256), q(3, 256)),
      (rv1, q(4, 256), q(5, 256), q(6, 256)),
      (rv2, q(15, 256), q(16, 256), q(17, 256)),
      (sa, q(11, 256), q(12, 256), q(13, 256)))
  }

  /** Closed-form integer features of the 4-fill drawing — MUST equal
    * `Multimodal.imageIntFeatures(decode(draw2(...)))` (spec-pinned). */
  def featuresOf2(key: Long, base: Long, shift: Int): Seq[(Int, Long)] =
    census(regions2(key, base, shift))

  /** Closed-form features for the scaled corpus by id. */
  def featuresOfScaled(id: Long): Seq[(Int, Long)] = {
    val g = id / 2
    if (g % PairMod == 0) featuresOf2(g, PairBase, (id % 2).toInt)
    else featuresOf2(id, UniqBase, 0)
  }

  // ---- generated DuckDB replay of the closed form ------------------

  import graft.functions.SplitMix64

  /** floorMod of the SIGNED mix value: the oracle's mix is a HUGEINT
    * in [0, 2^64), so re-sign it before the Java-convention mod. The
    * mix column `mc` must be a short column reference (one mix per
    * CTE column, the mixSql contract). */
  private[multimodal] def modSql(mc: String, mod: Int): String =
    s"(((${SplitMix64.signedSql(mc)} % $mod) + $mod) % $mod)"

  private[multimodal] def mixCol(salt: Long): String =
    SplitMix64.mixSql(s"(base + key*131 + $salt)")

  /** The 4-fill census chain from an in-scope CTE `gk` with columns
    * (idCols..., key, base, sh) to `outName(idCols..., d, v)` — the
    * closed-form integer features of [[draw2]] evaluated entirely in
    * SQL: the identical splitmix64 parameter stream (q83's
    * shared-literal playbook, upgraded to a shared FORMULA), the
    * identical region arithmetic, the identical integer divisions
    * (all operands nonnegative, so trunc ≡ floor across engines).
    * Parameterized over the id columns so the image corpus (id) and
    * the video corpus (id, segment, frame — [[VideoGen]]) share one
    * generator. */
  private[graft] def featureChainSql(idCols: Seq[String],
      outName: String): String = {
    val ic = idCols.mkString(", ")
    val mixes = (1 to 21).map(s => s"${mixCol(s.toLong)} AS m$s")
      .mkString(",\n    ")
    val mods = Seq(
      "r0" -> (1, 256), "g0" -> (2, 256), "b0" -> (3, 256),
      "r1" -> (4, 256), "g1" -> (5, 256), "b1" -> (6, 256),
      "px" -> (7, W / 2), "py" -> (8, H / 2),
      "pw" -> (9, W / 4), "ph" -> (10, H / 4),
      "r2" -> (11, 256), "g2" -> (12, 256), "b2" -> (13, 256),
      "ys" -> (14, H),
      "r3" -> (15, 256), "g3" -> (16, 256), "b3" -> (17, 256),
      "qx" -> (18, W / 2), "qy" -> (19, H / 2),
      "qw" -> (20, W / 4), "qh" -> (21, H / 4))
      .map { case (n, (s, m)) => s"${modSql(s"m$s", m)} AS $n" }
      .mkString(",\n    ")
    val colors = "r0, g0, b0, r1, g1, b1, r2, g2, b2, r3, g3, b3"
    s"""mixes AS MATERIALIZED (
       |  SELECT $ic, sh,
       |    $mixes
       |  FROM gk),
       |par AS MATERIALIZED (
       |  SELECT $ic, sh,
       |    $mods
       |  FROM mixes),
       |geo AS MATERIALIZED (
       |  SELECT $ic, $colors,
       |    least(2, $H - ys) AS rs, ys,
       |    (2 + px) AS x1, (2 + py) AS y1,
       |    (4 + pw + sh) AS w1, (4 + ph) AS h1,
       |    (2 + qx) AS x2, (2 + qy) AS y2,
       |    (4 + qw) AS w2, (4 + qh) AS h2
       |  FROM par),
       |geo2 AS MATERIALIZED (
       |  SELECT $ic, $colors, rs, w1, h1, w2, h2,
       |    greatest(0, least(y1 + h1, ys + rs) - greatest(y1, ys)) AS ov1,
       |    greatest(0, least(x1 + w1, x2 + w2) - greatest(x1, x2)) AS xov,
       |    greatest(0, least(y1 + h1, y2 + h2) - greatest(y1, y2)) AS yov,
       |    greatest(0, least(y2 + h2, ys + rs) - greatest(y2, ys)) AS ov2s,
       |    greatest(0, least(least(y1 + h1, y2 + h2), ys + rs)
       |               - greatest(greatest(y1, y2), ys)) AS yov3
       |  FROM geo),
       |areas AS MATERIALIZED (
       |  SELECT $ic, $colors,
       |    $W * rs AS sa,
       |    w1 * (h1 - ov1) AS rv1,
       |    w2 * h2 - xov * yov - w2 * ov2s + xov * yov3 AS rv2,
       |    $NPix - $W * rs - w1 * (h1 - ov1)
       |      - (w2 * h2 - xov * yov - w2 * ov2s + xov * yov3) AS bg,
       |    ((r0*299 + g0*587 + b0*114) // 1000) * 16 // 256 AS lb,
       |    ((r1*299 + g1*587 + b1*114) // 1000) * 16 // 256 AS lr,
       |    ((r2*299 + g2*587 + b2*114) // 1000) * 16 // 256 AS ls,
       |    ((r3*299 + g3*587 + b3*114) // 1000) * 16 // 256 AS lq
       |  FROM geo2),
       |$outName AS MATERIALIZED (
       |  SELECT $ic, 0 AS d,
       |    (bg*r0 + rv1*r1 + rv2*r3 + sa*r2) * 1000 // $NPix AS v
       |  FROM areas
       |  UNION ALL
       |  SELECT $ic, 1,
       |    (bg*g0 + rv1*g1 + rv2*g3 + sa*g2) * 1000 // $NPix
       |  FROM areas
       |  UNION ALL
       |  SELECT $ic, 2,
       |    (bg*b0 + rv1*b1 + rv2*b3 + sa*b2) * 1000 // $NPix
       |  FROM areas
       |  UNION ALL
       |  SELECT $ic, 3 + b.b AS d,
       |    (CASE WHEN lb = b.b THEN bg ELSE 0 END
       |     + CASE WHEN lr = b.b THEN rv1 ELSE 0 END
       |     + CASE WHEN ls = b.b THEN sa ELSE 0 END
       |     + CASE WHEN lq = b.b THEN rv2 ELSE 0 END) * 1000000 // $NPix
       |  FROM areas CROSS JOIN (
       |    SELECT unnest(generate_series(0, 15)) AS b) b)""".stripMargin
  }

  /** The scaled-corpus gk CTE over `documents` — the (key, base, sh)
    * branch selection [[drawScaled]] uses. */
  private[multimodal] def scaledGkSql: String =
    s"""gk AS (
       |  SELECT doc_id AS id,
       |    CASE WHEN (doc_id // 2) % $PairMod = 0
       |         THEN doc_id // 2 ELSE doc_id END AS key,
       |    CASE WHEN (doc_id // 2) % $PairMod = 0
       |         THEN CAST($PairBase AS HUGEINT)
       |         ELSE CAST(${UniqBase} AS HUGEINT) END AS base,
       |    CASE WHEN (doc_id // 2) % $PairMod = 0
       |         THEN doc_id % 2 ELSE 0 END AS sh
       |  FROM documents)""".stripMargin

  /** CTE chain (no leading WITH) ending at `f(id, d, v)` — the
    * closed-form integer features of [[drawScaled]] over every
    * `documents` doc_id. */
  def featureSql: String =
    s"""$scaledGkSql,
       |${featureChainSql(Seq("id"), "f")}""".stripMargin
}

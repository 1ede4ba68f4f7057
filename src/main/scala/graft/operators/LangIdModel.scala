package graft.operators

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Trained language identification — the fastText-style upgrade of
  * [[TextOps.langId]]'s stopword heuristic (Joulin et al. 2016 "Bag of
  * Tricks for Efficient Text Classification" — public knowledge): a
  * linear classifier over HASHED CHARACTER TRIGRAMS, the representation
  * that separates languages even when no function word appears (short
  * strings, name-heavy text, ideographic scripts).
  *
  * Three deliberate pieces, mirroring [[QualityModel]]'s discipline:
  *
  *  - FEATURES: character 1/2/3-grams of the [[TextOps.normalizeText]]'d
  *    doc, hashed into a CLOSED 1024-bucket space with the md5-prefix
  *    arithmetic every oracle replays exactly (`conv(substr(md5(t),1,4),
  *    16,10) % 1024` ≡ DuckDB `('0x'||substr(md5(t),1,4))::BIGINT % 1024`).
  *  - TRAINING: deterministic full-batch softmax gradient descent on a
  *    BUILT-IN seed corpus (below) — driver-side pure-double arithmetic
  *    in a fixed order, no RNG, no Spark. Language ID ships pretrained in
  *    every production system (the corpus being scored has no language
  *    labels to train on); the seed sentences are original text written
  *    for this library. The trained weights are rounded to 6dp and scaled
  *    by 1e6 into LONGS, so scoring is exact integer arithmetic: per-doc
  *    class scores are order-independent Long sums — the oracle replays
  *    them bit-for-bit with no float-summation-order caveat at all.
  *  - SCORING: one codegen'd projection — a single linear code-point
  *    split per doc with grams assembled from O(1) array lookups, one
  *    md5 per gram, six `aggregate` folds over 1024-entry Long array
  *    literals (~50 KB of plan constants, NOT a join side or broadcast),
  *    argmax with a deterministic alphabetical tie-break, and an
  *    integer-derived confidence margin gating the `route` column to
  *    "und".
  *
  * Scale shape: map-only — no shuffle, no UDF, no model object; the
  * model rides the plan as literals exactly like [[QualityModel]]'s
  * weights and the PQ codebooks, so a 100 TB scoring pass is pure scan
  * throughput. Since training reads nothing but compiled-in seeds, the
  * model is a JVM-lifetime constant (`lazy val`): no per-(session, dir)
  * memo, no first-query-pays-the-build bench billing.
  */
object LangIdModel {

  /** Closed feature space: md5-prefix buckets (hashSplit convention —
    * the same 1024-bucket size [[Dsir]] uses; at 256 the collision load
    * per bucket left the six classes linearly inseparable). */
  val buckets: Int = 1024

  /** Class list, sorted — ties in the argmax go to the first. `und` is a
    * TRAINED class (digit/symbol/markup junk seeds): text with no
    * language signal should lose to it on merit, not only to the margin
    * gate. Novel-script generalization is why the features span n-grams
    * 1..3, not trigrams alone: a fresh Chinese sentence shares almost no
    * TRIGRAM with the seeds (its trigram buckets carry only collision
    * noise), but it shares the CHARACTERS — the unigram channel is what
    * generalizes across unseen text in an ideographic script. */
  val langs: Seq[String] = Seq("de", "en", "es", "fr", "und", "zh")

  /** Minimum n-gram count for a classifiable doc; below it the router
    * emits "und" (a 3-char string carries almost no signal). */
  val minGrams: Int = 12

  /** Minimum per-trigram margin (top score minus runner-up, averaged
    * over trigrams, in 1e-6 weight units) for a confident verdict. */
  val minMargin: Double = 0.05

  // ---- seed corpus -------------------------------------------------
  //
  // Original sentences written for this library (ordinary prose in each
  // language's everyday register, varied topics so trigram coverage is
  // broad). Training data is compiled in: the model must be identical
  // on every JVM, cluster, and engine that replays it.
  private val seeds: Map[String, Seq[String]] = Map(
    "en" -> Seq(
      "The weather turned cold last night and the streets were quiet.",
      "She opened the window to let some fresh air into the kitchen.",
      "Most of the students finished their work before the end of class.",
      "A long road runs between the two villages along the river.",
      "He could not remember where he had left the keys to the house.",
      "The market sells fresh bread and vegetables every morning.",
      "They decided to walk home because the bus was running late.",
      "Reading in the evening helps her fall asleep more easily.",
      "The old bridge was closed for repairs during the summer.",
      "Children were playing in the park until the rain started.",
      "This report explains how the new system handles large files.",
      "We should meet earlier next week to plan the journey together.",
      "The query planner scans the table and filters each row before the join.",
      "A fast hash join merges the small batch with the sorted stream of values.",
      "Each window groups the data by key and keeps the top rows in order.",
      "A slow scan over a big table can stream parts of the data in small batches.",
      "The customer orders arrive as lines, and a vector of values is sorted by key.",
      "Merge the grouped columns first, then filter the stream on the hash of each part."),
    "de" -> Seq(
      "Das Wetter wurde letzte Nacht kalt und die Straßen waren leer.",
      "Sie öffnete das Fenster, um frische Luft in die Küche zu lassen.",
      "Die meisten Schüler beendeten ihre Arbeit vor dem Ende der Stunde.",
      "Eine lange Straße verläuft zwischen den beiden Dörfern am Fluss.",
      "Er konnte sich nicht erinnern, wo er die Schlüssel gelassen hatte.",
      "Der Markt verkauft jeden Morgen frisches Brot und Gemüse.",
      "Sie beschlossen, nach Hause zu laufen, weil der Bus zu spät kam.",
      "Abends zu lesen hilft ihr, leichter einzuschlafen.",
      "Die alte Brücke war im Sommer wegen Reparaturen gesperrt.",
      "Kinder spielten im Park, bis der Regen begann.",
      "Dieser Bericht erklärt, wie das neue System große Dateien verarbeitet.",
      "Wir sollten uns nächste Woche früher treffen, um die Reise zu planen.",
      "Der Planer durchsucht die Tabelle und filtert jede Zeile vor der Verknüpfung.",
      "Ein schneller Hash verbindet den kleinen Stapel mit dem sortierten Strom von Werten.",
      "Jedes Fenster gruppiert die Daten nach Schlüssel und behält die obersten Zeilen in Reihenfolge."),
    "es" -> Seq(
      "El tiempo se volvió frío anoche y las calles estaban vacías.",
      "Ella abrió la ventana para dejar entrar aire fresco en la cocina.",
      "La mayoría de los estudiantes terminaron su trabajo antes del final.",
      "Un camino largo corre entre los dos pueblos junto al río.",
      "Él no podía recordar dónde había dejado las llaves de la casa.",
      "El mercado vende pan fresco y verduras todas las mañanas.",
      "Decidieron caminar a casa porque el autobús llegaba tarde.",
      "Leer por la noche le ayuda a dormirse más fácilmente.",
      "El puente viejo estuvo cerrado por reparaciones durante el verano.",
      "Los niños jugaban en el parque hasta que empezó la lluvia.",
      "Este informe explica cómo el nuevo sistema maneja archivos grandes.",
      "Deberíamos reunirnos más temprano la próxima semana para planear el viaje.",
      "El planificador recorre la tabla y filtra cada fila antes de la unión.",
      "Una unión rápida combina el lote pequeño con el flujo ordenado de valores.",
      "Cada ventana agrupa los datos por clave y conserva las primeras filas en orden."),
    "fr" -> Seq(
      "Le temps est devenu froid cette nuit et les rues étaient vides.",
      "Elle a ouvert la fenêtre pour laisser entrer l'air frais dans la cuisine.",
      "La plupart des étudiants ont fini leur travail avant la fin du cours.",
      "Une longue route passe entre les deux villages le long de la rivière.",
      "Il ne se souvenait plus où il avait laissé les clés de la maison.",
      "Le marché vend du pain frais et des légumes tous les matins.",
      "Ils ont décidé de rentrer à pied parce que le bus était en retard.",
      "Lire le soir l'aide à s'endormir plus facilement.",
      "Le vieux pont était fermé pour travaux pendant l'été.",
      "Les enfants jouaient dans le parc jusqu'à ce que la pluie commence.",
      "Ce rapport explique comment le nouveau système traite les gros fichiers.",
      "Nous devrions nous retrouver plus tôt la semaine prochaine pour préparer le voyage.",
      "Le planificateur parcourt la table et filtre chaque ligne avant la jointure.",
      "Une jointure rapide fusionne le petit lot avec le flux trié de valeurs.",
      "Chaque fenêtre regroupe les données par clé et garde les premières lignes dans l'ordre."),
    "und" -> Seq(
      "12 398 4571 22 0 9 3384 17 5 2209 48 361 77 4",
      "0x3f 0x9a 0xde44 0x00 0xffff 0x1234abcd 0x7e 0x51",
      "!!! ??? ### *** ----- ===== ;;; ::: +++ ,,,",
      "a1 b2 c3 d4 e5 f6 g7 h8 i9 j0 k1 l2 m3 n4",
      "qwxz vkjq zzyx hgfd mnbv plkj qzwx xjqv wvkz",
      "3.14159 2.71828 1.41421 0.57721 6.28318 9.80665",
      "id=4821&sid=99&tok=ab12cd34&x=0&y=1&page=7",
      "[error] code 500 at line 2384 col 17 ref 0x88",
      "todo todo fixme xxx todo fixme xxx xxx todo",
      "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii",
      "%%% $$$ @@@ ^^^ &&& ((( ))) ||| ~~~ /// \\\\\\",
      "110010 101101 001011 111000 010101 011010 100110",
      "v1.2.3 v2.0.1 v3.4.5 v0.9.9 v10.0.0 v7.1.8",
      "[[0,1],[2,3],[4,5],[6,7],[8,9],[10,11],[12,13]]",
      "q8x z3k p0v m9j w2t r5n y7c b4d g6f h1s k0l"),
    "zh" -> Seq(
      "昨天晚上天气变冷了，街道上很安静。",
      "她打开窗户，让新鲜空气进入厨房。",
      "大多数学生在下课前完成了作业。",
      "一条长路沿着河流连接两个村庄。",
      "他想不起来把房子的钥匙放在哪里了。",
      "市场每天早上出售新鲜的面包和蔬菜。",
      "他们决定走路回家，因为公共汽车晚点了。",
      "晚上读书帮助她更容易入睡。",
      "那座老桥在夏天因维修而关闭。",
      "孩子们在公园里玩，直到开始下雨。",
      "这份报告解释了新系统如何处理大文件。",
      "我们下周应该早点见面，一起计划旅行。",
      "查询计划器扫描表格，并在连接之前过滤每一行。",
      "快速哈希连接将小批量与排序后的值流合并。",
      "每个窗口按键对数据分组，并按顺序保留前几行。"))

  /** Test hook: the seed sentences for one class (the self-classification
    * sanity gate re-scores them through the Spark path). */
  private[graft] def seedsFor(lang: String): Seq[String] = seeds(lang)

  // ---- JVM-side replicas of the engine-portable kernels -------------

  /** Exact JVM replica of [[TextOps.normalizeText]] (collapse whitespace
    * FIRST, then strip controls, trim, lowercase). */
  def normalizeJvm(s: String): String =
    s.replaceAll("\\s+", " ").replaceAll("[\\x00-\\x1f]", "")
      .trim.toLowerCase(Locale.ROOT)

  /** Code-point-correct n-gram (n = 1, 2, 3) enumeration (Spark `substr`
    * indexes code points, so the JVM replica must too — surrogate pairs
    * are one character on both sides). Order: all unigrams, then
    * bigrams, then trigrams — scores are order-independent sums, but the
    * count contract (3·len − 3 for len ≥ 3) is part of the oracle. */
  def gramsJvm(norm: String): Seq[String] = {
    val cps = norm.codePoints().toArray
    (1 to 3).flatMap { n =>
      if (cps.length < n) Seq.empty
      else (0 to cps.length - n).map(i => new String(cps, i, n))
    }
  }

  /** md5-prefix bucket — the exact arithmetic of DuckDB's
    * `('0x'||substr(md5(t),1,4))::BIGINT % 1024`. */
  def bucketJvm(trigram: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(trigram.getBytes("UTF-8"))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % buckets
  }

  // ---- training ------------------------------------------------------

  /** The trained, 1e6-scaled integer weight table: lang -> 1024 longs.
    * Deterministic (fixed data, fixed iteration order, pure doubles), so
    * this is a constant of the library — computed once per JVM. */
  lazy val weights: Map[String, Array[Long]] = train()

  private def train(iters: Int = 2000, step: Double = 8.0,
                    l2: Double = 0.0002): Map[String, Array[Long]] = {
    val k = langs.length
    val data: Seq[(Int, Array[Double])] = for {
      (lang, li) <- langs.zipWithIndex
      s <- seeds(lang)
    } yield {
      val gs = gramsJvm(normalizeJvm(s))
      val x = new Array[Double](buckets)
      gs.foreach(t => x(bucketJvm(t)) += 1.0)
      if (gs.nonEmpty) {
        var i = 0
        while (i < buckets) { x(i) /= gs.length; i += 1 }
      }
      (li, x)
    }
    val w = Array.fill(k)(new Array[Double](buckets))
    var it = 0
    while (it < iters) {
      val grad = Array.fill(k)(new Array[Double](buckets))
      data.foreach { case (y, x) =>
        val z = new Array[Double](k)
        var c = 0
        while (c < k) {
          var s = 0.0
          var i = 0
          while (i < buckets) { s += w(c)(i) * x(i); i += 1 }
          z(c) = s
          c += 1
        }
        val zmax = z.max
        var denom = 0.0
        c = 0
        while (c < k) { denom += math.exp(z(c) - zmax); c += 1 }
        c = 0
        while (c < k) {
          val p = math.exp(z(c) - zmax) / denom
          val d = p - (if (c == y) 1.0 else 0.0)
          var i = 0
          while (i < buckets) { grad(c)(i) += d * x(i); i += 1 }
          c += 1
        }
      }
      var c = 0
      while (c < k) {
        var i = 0
        while (i < buckets) {
          // small L2: every bucket carries several collided n-grams, and
          // unregularized weights on collision-only buckets are pure
          // noise a novel-script doc then sums over
          w(c)(i) -= step * (grad(c)(i) / data.length + l2 * w(c)(i))
          i += 1
        }
        c += 1
      }
      it += 1
    }
    // 6dp rounding then 1e6 scaling: the Long weight IS the model — both
    // engines sum identical integers, in any order
    langs.zipWithIndex.map { case (lang, c) =>
      lang -> w(c).map(v => math.rint(v * 1e6).toLong)
    }.toMap
  }

  // ---- scoring -------------------------------------------------------

  // The StaticInvoke fast path (the TextHash discipline): the Column-
  // function form of gram scoring is semantically right but pays an
  // interpreted higher-order-function tax per gram — a transform+concat
  // per n, one Md5 expression evaluation (fresh MessageDigest + hex
  // string + conv parse) per gram, then six interpreted aggregate folds
  // over the bucket array. Measured at sf0.1 that is ~5 s of single-core
  // CPU for 4.5M grams. This kernel does the identical arithmetic in one
  // tight JVM loop per row — reused MessageDigest, a per-thread gram→
  // bucket memo (gram frequencies are zipfian, so the hit rate is ~99%),
  // zero intermediate arrays — and compiles to a direct static call
  // inside whole-stage codegen.
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val gramCache = new ThreadLocal[java.util.HashMap[String, Integer]] {
    override def initialValue(): java.util.HashMap[String, Integer] =
      new java.util.HashMap[String, Integer](1 << 16)
  }
  // bound the memo so adversarial high-entropy corpora can't grow it
  // unboundedly; on cap overflow new grams just pay the md5.
  // Retention tradeoff (deliberate): the per-thread memo lives for the
  // executor thread's lifetime — at the 2^18 cap that is tens of MB per
  // thread retained after the lang-id stage finishes. Accepted because
  // grams recur across queries in a session (warm memo = the 19× win);
  // if executor memory pressure ever appears, shrink the cap or clear on
  // a model-identity change like Unigram's word memo does.
  private val gramCacheCap = 1 << 18

  private def bucketFast(gram: String): Int = {
    val cache = gramCache.get()
    val hit = cache.get(gram)
    if (hit != null) hit.intValue()
    else {
      val d = mdLocal.get()
        .digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val b = (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % buckets
      if (cache.size < gramCacheCap) cache.put(gram, Integer.valueOf(b))
      b
    }
  }

  private lazy val weightsArr: Array[Array[Long]] =
    langs.map(weights(_)).toArray

  /** Static scoring kernel: one pass over the normalized text — code-
    * point array (the same unit as Spark `substr` and DuckDB `substr`),
    * 1/2/3-gram enumeration, memoized md5-prefix bucket, six exact
    * integer weight sums. Returns `[n_grams, s_de, s_en, s_es, s_fr,
    * s_und, s_zh]`; bit-identical to the Column form (asserted by
    * LangIdModelSpec's MessageDigest-side rescore). */
  def scoresKernel(nt: UTF8String): ArrayData = {
    val cps = nt.toString.codePoints().toArray
    val k = langs.length
    val w = weightsArr
    val sums = new Array[Long](k + 1)
    var n = 1
    while (n <= 3) {
      var i = 0
      val last = cps.length - n
      while (i <= last) {
        val b = bucketFast(new String(cps, i, n))
        var c = 0
        while (c < k) { sums(c + 1) += w(c)(b); c += 1 }
        sums(0) += 1L
        i += 1
      }
      n += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sums)
  }

  /** [[scoresKernel]] as a Column (StaticInvoke — direct static call in
    * whole-stage codegen, the [[graft.functions.TextHash]] shape). */
  def scoresCol(nt: Column): Column =
    GraftExpressionBridge.column(StaticInvoke(
      LangIdModel.getClass, ArrayType(LongType, containsNull = false),
      "scoresKernel", Seq(GraftExpressionBridge.expression(nt)),
      Seq(StringType), propagateNull = true, returnNullable = false))

  /** Score a corpus: per-doc exact integer class scores, argmax language
    * with alphabetical tie-break, integer-derived confidence margin, and
    * the routed verdict (`und` for short or low-margin docs). One
    * codegen'd map-only projection; the model is plan literals. */
  def scored(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = TextOps.normalizeText(col(textCol))
    // The whole gram→bucket→sum chain is ONE native kernel call per doc
    // (see [[scoresKernel]]): linear in the text — the first cut's
    // substr-per-position enumeration was O(len²) per doc because
    // UTF8String.substr re-walks from byte 0 for code-point indexing —
    // and free of the per-gram interpreted-HOF/Md5-expression tax of the
    // Column form. A null doc scores as an empty one (n_grams 0, zero
    // sums), matching the previous when/otherwise semantics.
    val kern = coalesce(scoresCol(col("__nt")),
      typedLit(Seq.fill(langs.length + 1)(0L)))
    val scoredDf = docs
      .select(col(idCol), norm.as("__nt"))
      .withColumn("__k", kern)
      .select((col(idCol) +: element_at(col("__k"), 1).as("n_grams") +:
        langs.zipWithIndex.map { case (lang, i) =>
          element_at(col("__k"), i + 2).as(s"s_$lang") }): _*)
    // argmax via struct sort: ascending by (score, negcid), last element
    // wins — equal scores fall to the LARGER negcid = smaller class index
    // = alphabetically-first language (replayed as ORDER BY s DESC,
    // lang ASC in the oracle)
    val packed = array(langs.zipWithIndex.map { case (lang, i) =>
      struct(col(s"s_$lang").as("s"), lit(-i).as("negcid"))
    }: _*)
    val sorted = array_sort(packed)
    val top = element_at(sorted, -1)
    val second = element_at(sorted, -2)
    val langCol = element_at(typedLit(langs),
      (lit(0) - top.getField("negcid")).cast("int") + 1)
    // margin: avg per-trigram weight gap between winner and runner-up,
    // back in weight units (the 1e6 scale divides out) — derived from
    // exact Longs, so both engines round the same double
    val margin = round((top.getField("s") - second.getField("s")) * lit(1.0) /
      (nullif(col("n_grams"), lit(0L)) * lit(1000000.0)), 6)
    scoredDf
      .withColumn("lang", langCol)
      .withColumn("margin", margin)
      .withColumn("route",
        when(col("n_grams") < minGrams || col("margin") < minMargin, lit("und"))
          .otherwise(col("lang")))
  }

  // ---- model introspection -------------------------------------------

  /** The model head as a frame: per class, the non-zero weight count,
    * the weight sum, and a position-weighted checksum (Σ (b+1)·w mod
    * 1e9+7 — a swapped pair or a drifted bucket flips it). The
    * `lang_id_model_check` golden gate pins these against hardcoded
    * values, so trainer drift (seed edit, GD change, hash change) is
    * caught even though the scoring oracle interpolates the live
    * weights. */
  def modelCheck(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    langs.map { lang =>
      val w = weights(lang)
      val nz = w.count(_ != 0L).toLong
      val sum = w.sum
      val chk = w.zipWithIndex.map { case (v, b) =>
        val t = ((b + 1).toLong * v) % 1000000007L
        if (t < 0) t + 1000000007L else t
      }.sum % 1000000007L
      (lang, nz, sum, chk)
    }.toDF("lang", "n_nonzero", "w_sum", "checksum")
  }

  /** The five weight lists as DuckDB list literals — interpolated into
    * the `lang_id_trained` oracle so the replay scores with the exact
    * same integers (training drift is pinned separately by the
    * hardcoded [[modelCheck]] golden). */
  def duckdbWeightLists: String =
    langs.map { lang =>
      weights(lang).mkString(s"[", ", ", s"] AS w_$lang")
    }.mkString(",\n             ")
}

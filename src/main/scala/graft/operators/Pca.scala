package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.VectorExprs.dot

/** Second-moment accumulator for PCA: one pass over the corpus folds
  * every vector into (n, Σv, Σvvᵀ) — a dim + dim² double buffer
  * (64-dim: ~33 KB) per partition, merged associatively, so the
  * covariance of a 100 TB corpus costs ONE narrow scan + a single
  * model-state-sized reduce (the same shape as the centroid UDAF).
  * The outer-product fold is a tight JVM loop in the typed aggregator;
  * no per-element Column HOFs (the interpreted-lambda trap). */
case class Moments(n: Long, s: Array[Double], ss: Array[Double])

class MomentsAggregator(dim: Int)
    extends Aggregator[Seq[Double], Moments, Moments] {
  override def zero: Moments =
    Moments(0L, new Array[Double](dim), new Array[Double](dim * dim))
  override def reduce(m: Moments, v: Seq[Double]): Moments = {
    val a = v.toArray
    var i = 0
    while (i < dim) {
      m.s(i) += a(i)
      var j = 0
      val row = i * dim
      while (j < dim) { m.ss(row + j) += a(i) * a(j); j += 1 }
      i += 1
    }
    Moments(m.n + 1, m.s, m.ss)
  }
  override def merge(x: Moments, y: Moments): Moments = {
    var i = 0
    while (i < dim) { x.s(i) += y.s(i); i += 1 }
    i = 0
    while (i < dim * dim) { x.ss(i) += y.ss(i); i += 1 }
    Moments(x.n + y.n, x.s, x.ss)
  }
  override def finish(m: Moments): Moments = m
  override def bufferEncoder: Encoder[Moments] = Encoders.product[Moments]
  override def outputEncoder: Encoder[Moments] = Encoders.product[Moments]
}

/** PCA model state: mean, top-k principal components, eigenvalues.
  * Fit-once / serve-many, like [[PqModel]]: the distributed work is the
  * one-pass moment aggregate; the eigen-decomposition runs driver-side
  * on the dim×dim covariance (power iteration with deflation — fixed
  * iteration count, deterministic init, canonical signs, so the fit is
  * reproducible for a given partitioning; float-sum order across
  * partitions makes the last ulps partitioning-dependent, which is why
  * the FIT is law-tested with tolerances in PcaSpec while the
  * registered s12 serves the [[Pca.pinnedModel]] fixture and is
  * driver-oracled exactly). */
case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                    eigenvalues: Array[Double]) {
  def k: Int = components.length
  def dim: Int = mean.length

  def save(s: SparkSession, path: String): Unit = {
    import s.implicits._
    val rows = ("mean", -1, mean.toSeq, 0.0) +:
      components.toSeq.zipWithIndex.map { case (c, i) =>
        ("component", i, c.toSeq, eigenvalues(i))
      }
    rows.toDF("kind", "i", "vec", "eig")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}

object Pca {

  /** One distributed pass → driver-side eigen. `vecs` must expose a
    * Seq[Double] column named `v`. */
  def fit(vecs: DataFrame, dim: Int, k: Int, iters: Int = 1000): PcaModel = {
    import vecs.sparkSession.implicits._
    val agg = new MomentsAggregator(dim).toColumn
    val m = vecs.select(col("v").as[Seq[Double]]).select(agg).head()
    require(m.n > 1, s"need >1 vectors to fit PCA, got ${m.n}")
    val n = m.n.toDouble
    val mean = m.s.map(_ / n)
    // C = E[vvᵀ] − μμᵀ
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      m.ss(i * dim + j) / n - mean(i) * mean(j)
    }
    val (comps, eigs) = topEigen(cov, k, iters)
    PcaModel(mean, comps, eigs)
  }

  /** Power iteration with deflation: deterministic SplitMix64 init,
    * fixed iteration count. Returns (components, eigenvalues), largest
    * first — enforced by a final stable sort on the Rayleigh
    * quotients: on a near-degenerate spectrum (the uniform synthetic
    * embeddings: λ₂/λ₃ ≈ 0.997) the per-component convergence rate
    * (λ_{c+1}/λ_c)^iters leaves residual cross-talk that can deliver
    * adjacent eigenvalues out of order, and consumers (whitening's
    * √λᵢ scaling, "top-k" semantics) rely on descending order. */
  private[operators] def topEigen(cov0: Array[Array[Double]], k: Int,
                                  iters: Int): (Array[Array[Double]], Array[Double]) = {
    val dim = cov0.length
    val cov = cov0.map(_.clone())
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val comps = Array.ofDim[Array[Double]](k)
    val eigs = new Array[Double](k)
    for (c <- 0 until k) {
      var v = Array.tabulate(dim) { d =>
        val h = Dedup.splitmix64(c.toLong * 7919L + d)
        (h >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
      // re-orthogonalize against the components already found every
      // iteration (Gram-Schmidt): deflation alone leaves O(1e-5)
      // cross-talk when the spectrum is near-degenerate (uniform data)
      def orthog(w: Array[Double]): Array[Double] = {
        val out = w.clone()
        var p = 0
        while (p < c) {
          val cp = comps(p)
          var d = 0.0; var i = 0
          while (i < dim) { d += out(i) * cp(i); i += 1 }
          i = 0
          while (i < dim) { out(i) -= d * cp(i); i += 1 }
          p += 1
        }
        out
      }
      var nv = norm(v)
      v = v.map(_ / nv)
      for (_ <- 1 to iters) {
        val w = orthog(matVec(v))
        nv = norm(w)
        if (nv > 0) v = w.map(_ / nv)
      }
      val cv = matVec(v)
      val lambda = v.zip(cv).map { case (a, b) => a * b }.sum
      // canonicalize the sign (eigenvectors are defined up to ±1):
      // the largest-|component| entry is made positive, ties to the
      // lowest index — so independently-run fits agree exactly instead
      // of up-to-sign, and a pinned fixture is comparable to a re-fit
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(x => -x)
      comps(c) = v
      eigs(c) = lambda
      // deflate: C ← C − λvvᵀ
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { cov(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
    }
    // descending-eigenvalue contract (stable: ties keep extraction
    // order, so the sort is deterministic)
    val order = eigs.indices.sortBy(i => (-eigs(i), i))
    (order.map(comps).toArray, order.map(eigs).toArray)
  }

  def load(s: SparkSession, path: String): PcaModel = {
    val rows = graft.Tables.parquet(s, path).collect()
    val mean = rows.find(_.getAs[String]("kind") == "mean").get
      .getAs[scala.collection.Seq[Double]]("vec").toArray
    val cs = rows.filter(_.getAs[String]("kind") == "component")
      .sortBy(_.getAs[Int]("i"))
    PcaModel(mean,
      cs.map(_.getAs[scala.collection.Seq[Double]]("vec").toArray),
      cs.map(_.getAs[Double]("eig")))
  }


  /** The rotation [[fit]] learns on the synthetic embeddings at
    * sf0.01, pinned as a literal model fixture — the t14
    * pinned-merges discipline applied to PCA. With the model pinned
    * and eigenvector signs canonicalized (largest-|component| entry
    * positive), the s12 projection is a PURE function of the
    * embedding, so the driver oracles it exactly: DuckDB replays each
    * centered dot as an unrolled left-associative sum, bit-identical
    * to the codegen'd sequential loop. Fit-once/serve-many: the
    * TRAINING path stays covered by PcaSpec's spectral laws plus a
    * fixture-drift check (re-fit at sf0.01 must align with the pinned
    * axes); the fixture is the sf0.01 model applied at every SF by
    * design, like t14's merge table. Regenerate with
    * `sbt "runMain graft.tools.PinModelsTool"` (the block after the
    * `paste into Pca.scala` marker). */
  val pinnedModel: PcaModel = PcaModel(
    mean = Array(0.0021647098540561274, -0.004547794351470656, 0.003930154383007902, -0.004793201057444094, 0.009943076466443017, 0.007772532952541951, -0.01823135569485021, 0.009217355088097975, -0.0024274034147092607, -6.178791260463186E-4, 0.006436078068451025, 0.0033540127822197976, -0.0026588912964216433, 0.0020540317017294003, -2.1456623025005683E-4, 0.005910249243548606, 0.0033342206680827074, 0.005826121678226628, -4.6127636556047945E-4, 0.0012317155191558413, -0.0038391390424221752, 0.0023021840666187926, 0.004168265111627988, -0.008054586122045293, -0.0018911654613621067, 0.012808142676018179, -0.0015970649567898362, 0.01062632681982359, -0.0011532765734009445, 3.903653704910539E-4, 0.0056047214816790075, -0.005792685562460974, 0.008335300238788477, -0.0066753798398422074, 0.005155627750558779, 0.001177179405814968, -0.0053353315424174074, -0.0015937965741213702, -9.667016767925815E-4, -0.001140981935830496, -0.0017442115085141267, -0.01183411476330366, 3.1351819908741164E-4, -5.631569666620635E-4, -0.011520562025547406, 0.003832613509031944, -5.98060307384003E-4, 0.005890298187849112, -0.003749661162350094, -0.010264404615503736, 0.009377152467495762, -0.001481992187706055, 0.007770042697302415, -0.003917563282562696, 0.00470978261413984, -0.003577291431953199, 0.004773866848874604, -0.0024703639050130733, -0.004844514904165408, -0.00872118095526821, -2.811656921039685E-4, 0.005004184705336229, -0.0011590625974931754, -0.013266222528531216),
    components = Array(
      Array(-0.20963928869048915, -0.1205721292242672, 0.036547993484945515, 0.011820515741796272, 0.0756681995430641, 0.013214357314828935, 0.09058331150779375, 0.28661954587565786, 0.04954612824629768, 0.41405619592698195, 0.06530384303339645, 0.18207904642632725, 0.06513210177666866, -0.03653349436924205, 0.1711488183253301, -0.18535022300618867, 0.08898827641600036, -0.15703043433766542, -0.0301361028410126, 0.032179516137049564, 0.061212853663318106, -0.1106887041936941, -0.08347583136690685, -0.055434140061060545, 0.019552786698307043, 0.1991280027457203, -0.03751703022539241, 0.14950770131782593, -0.17287870184328905, -0.006121234743159228, -0.05871546754056291, 0.062040060464099024, 0.296538226257745, 0.10616391617682208, -0.032042302342267466, 0.10414299845132402, 0.044538119202124984, 0.061463660081562906, 0.013004737301744337, 0.021770703077898818, -0.11667898788435498, 0.0055240804730290905, -0.24083624440446325, 0.09570952012951175, -0.028309567814389366, -0.22512541137534017, 0.008732341419149005, -0.07903907777126985, -0.0836820600919331, -0.11844969173896125, 0.12046119339355284, 0.07248413426848448, -0.017186621922123498, 0.08160454734575515, -0.015033918751425906, -0.06676502649025154, -0.05564737555620614, -0.051376234221754295, 0.0601945593449139, -0.0911378342563403, 0.1219878965852956, 0.05064892034534898, -0.21821146013836057, -0.10201303983380869),
      Array(-0.0038393848178854715, -0.054431544211734004, -0.012567540044294919, -0.0881335307009734, 0.17485851220579587, 0.0252145080162973, 0.0749475389707338, -0.06997761528755043, 0.07744870379138882, 0.030700514725570983, 0.10575884769319394, -0.017880912357603067, 0.012976357564418223, 0.13369642399154916, 0.014561041226404142, 0.04138992313348262, 0.14841195929036083, 0.36030816012875466, -0.054188975726663265, -0.050764429288721206, 0.032543828888354186, 0.035389935264392984, 0.06533377476438378, -0.30912340234080965, -0.25768192757923647, -0.23906371930020417, -0.020638036622048394, -2.2170372598610496E-4, -0.08628756523526868, -0.17453298836810127, -0.024068559669762596, -0.21754426786081005, 0.029467128300517467, 0.06153982176934905, 0.03375298334497101, 0.07922079605076232, 0.05946757997204825, 0.03649906405491932, 0.1821071215058609, 0.046674119063112904, 7.37044041140988E-6, 0.04698681544007447, -0.06276963972536503, -0.17918876571475825, 0.17268618566054322, -0.1888376469842352, -0.04694577721950693, 0.14577863107316083, 0.11292307639623549, -0.11328190776553168, -0.15742974661771353, -0.08197423042346735, 0.012979762057526848, -0.016091475299515164, 0.23803498875407678, 0.02338359847184472, -0.3028208747507839, 0.016382287079502737, 0.13543429148698904, -0.12158704755462149, -0.08366918260467489, 0.08483937494958871, -4.455346788381552E-4, -0.07861696851318943),
      Array(-0.14804403754967052, -0.08512440635814494, -0.06394747370166422, -4.575968686023635E-4, -0.20437466537760782, -0.04374173505831536, 0.1177552991321861, -0.28449785338163114, 0.04440239620295749, 0.02371733794507962, -0.05117952778898726, 0.035702033564793456, -0.06017956433048069, -0.03455060742227556, 0.009449519079780597, -0.23454575621033596, 0.17137352685731594, -0.08492758865750262, 0.1160470677801463, 0.07732840325697778, 0.013131626677729841, 0.17530755084176872, -0.10064801527804976, 0.05337470474551096, 0.09255730973011303, 0.1000839504166103, 0.09063736315336773, -0.13414209861461368, 0.010277697192883909, -0.10540482768936932, -0.12285966839418189, 0.09091210855099757, 0.04825216623623325, -0.18066130235415787, -0.02976989048113356, -0.10216258226292721, 0.13907849914425321, -0.21255244181492766, -0.0634565233920928, -0.10392899611602613, 0.18947963434479473, 0.19011010103432044, -0.12585555796659226, -0.20893277844786615, 0.16586568194091456, 0.05283627664896528, 0.042797574825187666, 0.018020015157070322, -0.06832009341796012, -0.05127551279083576, -0.12949844471532593, -0.10645450042598037, 0.22780031587798372, -0.15329476790877003, -0.17915209455055975, -0.0019200152566469795, -0.005381095087446727, 0.10972460097109338, 0.1827952413505079, -0.052685084387163024, -0.06955779373082208, 0.2884306056837332, -0.09008107781533287, -0.07553050128384999),
      Array(0.06808859883383724, 0.06269041643677649, 0.00880383359371499, 0.1725239920052633, -0.2579834700944692, 0.107088287645692, -0.023175625548099942, 0.17755728094040188, -0.11521781238335958, 0.13621073286049587, 0.007659839662818392, 0.20190244187034975, -0.060791141362139506, -0.14023493984160224, -0.0931289302519724, 0.04930067195981388, 0.09684061632262395, 0.07143928687335697, -0.009316951748280677, -0.20313592827804894, -0.22547718439747752, 0.15765440799837246, -0.011854970618830637, 0.07324612279973781, 0.027454194025154685, -0.1191051317993364, 0.11644961254227522, -0.003816490923363157, 0.1289279574018519, -0.10449889533730669, 0.15211095360705187, 0.20057324923763079, -0.0814049132114064, -0.017673690470058467, -0.11649765809623196, 0.3161972644882404, -0.11670694198411731, -0.14846563394366444, -0.010258573046732524, -0.04825395707284049, -0.014500031614024888, -1.658104038183299E-4, -0.08565222548923057, -0.01742805120764347, -0.0757493560355294, -0.04152203057718597, -0.013615787964943985, 0.3694072058032315, -0.10852455529407047, -0.15341791932662763, 0.0664900865119012, -0.019766950789642763, 0.009351742849149514, 0.005388156932484227, -0.02188862752566915, 0.10147347405931569, -0.17090950558269546, 0.09292390177157779, -0.17073444625493023, -0.0739170542782706, -0.1920676073179654, -0.09622349635287032, -0.08405597852513709, 0.02628819950871835)),
    eigenvalues = Array(0.027512899280761022, 0.027166744753041056, 0.026617757910950397, 0.025589213498820353))

  /** s12 registered form: project with the [[pinnedModel]] fixture. */
  def projectPinned(s: SparkSession, dir: String): DataFrame =
    project(s, dir, model = Some(pinnedModel))

  /** s12: project every embedding onto the top-k principal components —
    * the dimensionality-reduction / decorrelation step a 100 TB
    * embedding pipeline runs before quantization or ANN (the same role
    * as OPQ's rotation). Serve path: each component is a plan literal;
    * the projection is k codegen'd dots per row, one narrow pass, no
    * shuffle before the output sort. The registered s12 passes the
    * [[pinnedModel]] fixture (exact DuckDB oracle); the model-free form
    * fits inline and is law-tested (PcaSpec) since the covariance
    * float-sum is partition-order-dependent in its last ulps. */
  def project(s: SparkSession, dir: String, k: Int = 4,
              model: Option[PcaModel] = None,
              whiten: Boolean = false): DataFrame = {
    val vecs = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val mdl = model.getOrElse(fit(vecs, dim = 64, k = k))
    val centered = zip_with(col("v"), typedlit(mdl.mean.toSeq), (x, mu) => x - mu)
    val pcs = mdl.components.zipWithIndex.map { case (w, i) =>
      // whitening rescales each axis to unit variance (divide by √λ) —
      // the decorrelate-and-equalize transform quantizers want
      val scale = if (whiten) math.sqrt(mdl.eigenvalues(i)).max(1e-12) else 1.0
      round(dot(centered, typedlit(w.map(_ / scale).toSeq)), 4).as(s"pc${i + 1}")
    }
    vecs.select(col("vec_id") +: col("label") +: pcs: _*)
      .orderBy("vec_id")
  }
}

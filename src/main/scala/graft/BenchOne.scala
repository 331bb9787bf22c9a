package graft

/** Dev tool: time individual entries (args = names), printing as each
  * finishes — for isolating slow queries. Each entry runs
  * SPARK_GRAFT_PASSES times (default 6; pass 1 is cold) and the
  * summary line reports the FLOOR (min wall) with the CPU/GC/JIT
  * numbers of that same pass — the min-of-N methodology the round-11
  * verdict asked for: floors from a fresh JVM with only these plans
  * loaded, so a floor that matches the old full-bench number convicts
  * in-run JVM state (code cache / GC) rather than host drift or code.
  * A fixed-work calibration probe (JvmStamp.calibrate) brackets the
  * run: its wall time is host throughput, comparable across rounds. */
object BenchOne {
  /** The 1-minute host load average as /proc/loadavg prints it. */
  private def load1m(): String =
    JvmStamp.loadAvg().headOption.fold("?")(v => f"$v%.2f")

  def main(args: Array[String]): Unit = {
    // ambient stamp BEFORE the SparkSession exists (same first-class
    // noise evidence as Bench's load_avg.ambient_premain field)
    val ambient = load1m()
    val calPre = JvmStamp.calibrate()
    val calParPre = JvmStamp.calibratePar()
    println(f"[benchone] ambient_premain load1m=$ambient cal_pre=$calPre%.3f s cal_par_pre=$calParPre%.3f s")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "6").toInt
    val spark = Engine.session()
    // Previous committed full-bench artifact for the vs_prev stamp on
    // each FLOOR line (same cal-normalized diff the Bench tripwire
    // uses; informational here — BenchOne is the isolation tool).
    val prevDetail =
      (try Some(scala.io.Source.fromFile("BENCH_DETAIL.json").mkString)
      catch { case _: Exception => None })
        .filter(_.contains("\"sf\":\"" + sfDir + "\"")) // same-SF only
    val prevW = prevDetail.map(Bench.numMap(_, "queries")).getOrElse(Map.empty)
    val prevC = prevDetail.map(Bench.numMap(_, "cpu")).getOrElse(Map.empty)
    val prevCal = prevDetail.flatMap(Bench.calAvg)
    val prevCalPar = prevDetail.flatMap(Bench.calParAvg)
    // registry/native-codec init must not land inside the "cold" pass
    // of an ImageIO entry (the r14 0.245→0.43s floor-band drift)
    Bench.warmImageIO()
    args.foreach { name =>
      val samples = (1 to passes).map { pass =>
        val g0 = JvmStamp.gcMillis(); val j0 = JvmStamp.jitMillis()
        val c0 = JvmStamp.processCpuNs()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = if (c0 < 0) -1.0 else (JvmStamp.processCpuNs() - c0) / 1e9
        val gc = JvmStamp.gcMillis() - g0
        val jit = if (j0 < 0) -1L else JvmStamp.jitMillis() - j0
        val tag = if (pass == 1) "cold" else s"p$pass"
        println(f"[benchone] $name ($tag) rows=$n wall=$wall%.2f cpu=$cpu%.2f gc_ms=$gc jit_ms=$jit load1m=${load1m()}")
        (wall, cpu, gc, jit)
      }
      val (w, c, g, j) = samples.minBy(_._1)
      val parNote = (prevCal, prevCalPar) match {
        // the r15 host mode, surfaced per-floor: single-thread cal
        // flat while the parallel probe inflated = host state
        case (Some(pc), Some(pp)) if pc > 0 && pp > 0 &&
            calPre / pc < 1.15 && calParPre / pp > 1.25 =>
          f" HOST_PARALLEL_SHIFT par_ratio=${calParPre / pp}%.2f"
        case _ => ""
      }
      val vsPrev = (prevW.get(name), prevC.get(name), prevCal) match {
        case (Some(pw), Some(pc), Some(pcal)) if pw > 0 && pc > 0 && pcal > 0 =>
          val r = calPre / pcal
          f" vs_prev wall_ratio=${w / (pw * r)}%.2f cpu_ratio=${c / (pc * r)}%.2f cal_ratio=$r%.2f$parNote"
        case _ => ""
      }
      println(f"[benchone] $name FLOOR wall=$w%.3f cpu=$c%.2f gc_ms=$g jit_ms=$j passes=$passes codecache_mb=${JvmStamp.codeCacheUsed() >> 20}$vsPrev")
    }
    val calPost = JvmStamp.calibrate()
    val calParPost = JvmStamp.calibratePar()
    println(f"[benchone] done cal_post=$calPost%.3f s cal_par_post=$calParPost%.3f s jvm=${JvmStamp.json()}")
    spark.stop()
  }
}

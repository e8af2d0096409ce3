package graft.tools

/** Dev tool: sweep the #74 train→eval budget (epochs × lr) at a given
  * SF and print the held-out metrics per config — the data behind
  * pinning [[graft.kge.TrainEval.EvalEpochs]]/`EvalLr` with an MRR
  * margin that holds at sf0.1 (round-6 VERDICT item 4).
  *
  * Usage: sbt "runMain graft.tools.TrainSweep <sfDir> [epochs:lr ...]"
  */
object TrainSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val configs: Seq[(Int, Double)] =
      if (args.length > 1) args.drop(1).toSeq.map { s =>
        val Array(e, l) = s.split(":"); (e.toInt, l.toDouble)
      }
      else Seq((20, 0.1), (40, 0.1), (60, 0.1), (40, 0.2), (60, 0.2))
    val spark = graft.core.Session.build()

    configs.foreach { case (epochs, lr) =>
      val t0 = System.nanoTime
      val rows = graft.kge.TrainEval.trainEval(spark, dir, epochs, lr)
        .collect().map(r => r.getString(0) -> r).toMap
      val secs = (System.nanoTime - t0) / 1e9
      val (i, t) = (rows("init"), rows("trained"))
      val lift = (t.getDouble(5) - i.getDouble(5)) / i.getDouble(5) * 100
      println(f"[sweep] epochs=$epochs%3d lr=$lr%4.2f  " +
        f"mrr ${i.getDouble(5)}%.4f->${t.getDouble(5)}%.4f (${lift}%+6.1f%%)  " +
        f"h10 ${i.getDouble(4)}%.4f->${t.getDouble(4)}%.4f  " +
        f"mr ${i.getDouble(6)}%.0f->${t.getDouble(6)}%.0f  " +
        f"n=${i.getLong(1)}  ${secs}%.0f s")
    }
    spark.stop()
  }
}

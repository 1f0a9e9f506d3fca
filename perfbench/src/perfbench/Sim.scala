package perfbench

import graft.ecs.{Component, ComponentMeta, Processor, World}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Position(x: Double, y: Double) extends Component
final case class Velocity(vx: Double, vy: Double) extends Component
final case class Thrust(ax: Double, ay: Double) extends Component

/** `World.step` loop over two archetypes: Position+Velocity and
  * Position+Velocity+Thrust. `Move` runs on both; `Accelerate` runs
  * after it on the shared archetype and sees its output in the same
  * step. Integer inputs and dt = 0.25 make every state exact, so the
  * final state and each history frame have a closed form.
  */
final class Sim(spark: SparkSession, inputs: String, p: Map[String, Int]) extends Workload {
  import Sim._
  private val n = p("N")
  private val k = p("K")
  private var entities: DataFrame = _
  private var wantLive: Map[Long, Array[Double]] = Map.empty
  private var wantSums: IndexedSeq[Seq[Double]] = IndexedSeq.empty

  val opSpans: Seq[String] = Seq("step", "step_compact")
  def unitsPerEpisode: Long = n.toLong * k

  def prepare(): Unit = {
    if (entities != null) entities.unpersist(true)
    entities = spark.read.parquet(s"$inputs/entities.parquet").cache()
    val start = entities.collect().map { r =>
      r.getLong(0) -> Array(r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7))
    }.toMap
    require(start.size == n, s"expected $n entities, read ${start.size}")
    wantLive = start.map { case (id, s) => id -> stateAt(s, k) }
    wantSums = (0 to k).map(step => (0 until 4).map(j => start.values.map(s => stateAt(s, step)(j)).sum))
  }

  def episode(sp: Spans, gate: Gate): Unit = {
    val world = sp("spawn") {
      val w = World.make(spark)
      def spawn(metas: Seq[ComponentMeta], thrust: Boolean): Unit = {
        val cols = Seq(col("entity_id"), col("x").as("position__x"), col("y").as("position__y"),
          col("vx").as("velocity__vx"), col("vy").as("velocity__vy")) ++
          (if (thrust) Seq(col("ax").as("thrust__ax"), col("ay").as("thrust__ay")) else Nil)
        w.spawnBatch(metas, entities.filter(col("thrust") === thrust).select(cols: _*))
      }
      spawn(Seq(P, V), thrust = false)
      spawn(Seq(P, V, T), thrust = true)
      w.addProcessor(Move)
      w.addProcessor(Accelerate)
      w
    }
    (1 to k).foreach { i =>
      // World.make's optimizeInterval = 4: the step that reaches a
      // multiple of it compacts the store
      sp(if (i % 4 == 0) "step_compact" else "step")(world.step(Dt))
    }
    val (planNodes, live) = sp("query") {
      val frames = world.query(Seq(P, V)).values.toSeq
      (frames.map(_.queryExecution.analyzed.collect { case x => x }.size).sum,
        frames.map(_.select("entity_id", "position__x", "position__y", "velocity__vx", "velocity__vy"))
          .reduce(_ unionByName _).collect())
    }
    sp.note("plan_nodes", planNodes)
    sp.note("rows_out", live.length)
    val hist = sp("history") {
      world.getHistory(Seq(P, V)).values.toSeq
        .map(_.groupBy("step").agg(count(lit(1)), sum("position__x"), sum("position__y"),
          sum("velocity__vx"), sum("velocity__vy")))
        .reduce(_ unionByName _).collect()
    }
    sp.note("rows_out", hist.map(_.getLong(1)).sum)

    gate.check("query", live.length == n && live.forall { r =>
      wantLive.get(r.getLong(0)).exists(w => (0 until 4).forall(j => r.getDouble(j + 1) == w(j)))
    })
    gate.check("history", {
      val got = hist.groupBy(_.getLong(0)).map { case (step, rs) =>
        step -> (rs.map(_.getLong(1)).sum, (2 to 5).map(j => rs.map(_.getDouble(j)).sum))
      }
      got.size == k + 1 && got.values.map(_._1).sum == n.toLong * (k + 1) &&
        (0 to k).forall(step => got.get(step.toLong).contains((n.toLong, wantSums(step))))
    })
  }
}

object Sim {
  val P: ComponentMeta = ComponentMeta.of[Position]
  val V: ComponentMeta = ComponentMeta.of[Velocity]
  val T: ComponentMeta = ComponentMeta.of[Thrust]
  val Dt = 0.25

  object Move extends Processor {
    override def priority: Int = 0
    def components: Seq[ComponentMeta] = Seq(P, V)
    def process(df: DataFrame, dt: Double): DataFrame = df
      .withColumn("position__x", col("position__x") + col("velocity__vx") * dt)
      .withColumn("position__y", col("position__y") + col("velocity__vy") * dt)
  }

  object Accelerate extends Processor {
    override def priority: Int = 1
    def components: Seq[ComponentMeta] = Seq(V, T)
    def process(df: DataFrame, dt: Double): DataFrame = df
      .withColumn("velocity__vx", col("velocity__vx") + col("thrust__ax") * dt)
      .withColumn("velocity__vy", col("velocity__vy") + col("thrust__ay") * dt)
  }

  /** (x, y, vx, vy) after `steps` steps from (x, y, vx, vy, ax, ay):
    * Move uses the velocity before Accelerate updates it.
    */
  def stateAt(s: Array[Double], steps: Int): Array[Double] = {
    val (x, y, vx, vy, ax, ay) = (s(0), s(1), s(2), s(3), s(4), s(5))
    val drift = Dt * Dt * steps * (steps - 1) / 2
    Array(x + Dt * steps * vx + drift * ax, y + Dt * steps * vy + drift * ay,
      vx + Dt * steps * ax, vy + Dt * steps * ay)
  }
}

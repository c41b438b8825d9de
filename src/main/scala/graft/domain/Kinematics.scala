package graft.domain

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Kinematic column helpers (SURVEY.md §2.7 F2-F4) — pure codegen'd
  * column expressions, no UDFs.
  *
  * Reference: Euclidean distance `DefPosModel.ipynb:143-147`,
  * `radius_model.R:134,141,160`; kinematics step
  * `BuildingReadOrder.R:87` (s·0.1 + ½·a·0.1²).
  */
object Kinematics {

  /** Euclidean distance between (x1,y1) and (x2,y2). */
  def dist(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    sqrt(pow(x1 - x2, 2) + pow(y1 - y2, 2))

  /** Distance covered in one 10 Hz frame: s·dt + ½·a·dt²
    * (BuildingReadOrder.R:87 with dt = 0.1 s). */
  def stepDistance(s: Column, a: Column, dt: Double = 0.1): Column =
    s * dt + a * (0.5 * dt * dt)
}

package graft

import graft.pipeline.FraudPipeline.Tier
import org.scalatest.funsuite.AnyFunSuite

/** PipelineRun's flag → tier mapping, as a pure function (no Spark). */
class PipelineRunSpec extends AnyFunSuite {
  import PipelineRun.tiersOf

  test("no flags select no tier") {
    assert(tiersOf(Nil) == Nil)
  }

  test("--slices-attn implies the slice tier and wins over --slices") {
    assert(tiersOf(Seq("--slices")) == Seq(Tier.Slices()))
    assert(tiersOf(Seq("--slices-attn")) == Seq(Tier.Slices(attention = true)))
    assert(tiersOf(Seq("--slices-attn", "--slices")) == Seq(Tier.Slices(attention = true)))
  }

  test("--lstm2 wins over --lstm; --lstm-fixed swaps the cells of either and alone adds nothing") {
    assert(tiersOf(Seq("--lstm2", "--lstm")) == Seq(Tier.Lstm(units = 2)))
    assert(tiersOf(Seq("--lstm-fixed")) == Nil)
    assert(tiersOf(Seq("--lstm", "--lstm-fixed")) == Seq(Tier.Lstm(fixedCells = true)))
    assert(tiersOf(Seq("--lstm-fixed", "--lstm2")) ==
      Seq(Tier.Lstm(units = 2, fixedCells = true)))
  }

  test("tiers come out in the matrix's join order, whatever the flag order") {
    assert(tiersOf(Seq("--fused", "--lstm", "--residual", "--slices", "--extended")) ==
      Seq(Tier.Extended, Tier.Slices(), Tier.Residual, Tier.Lstm(), Tier.Fused))
  }
}

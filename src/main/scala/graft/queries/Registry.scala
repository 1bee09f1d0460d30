package graft.queries

import graft.QueryDef

/** Flat registry of every query the engine exposes to the driver.
  * Each module contributes a `defs` seq; names must be unique.
  *
  * Oracle policy: every gate carries DuckDB oracle SQL unless the
  * operator family is oracled through a named hash-exact replay twin
  * (q25b/q43b/q47b/q60b/q62b/q63b convention). The ONE deliberate
  * exception is **q90** (`QualityParity.cgQuality`): it is the
  * end-to-end NDCG-parity BAND vehicle — it trains the full
  * candidate-generator stack and pins quality bands, while the NDCG
  * math itself is oracled hash-exactly by q26/q60b. Keep it banded;
  * do not re-litigate it into a replay gate (VERDICT r9 #6).
  *
  * Growth budget (VERDICT r9 #8): every gate adds to the cost of a
  * full `graft.Verify` sweep — about 5 min at sf0.01 for the 192 gates
  * on a 4-core host. New gates net against retirements: when a
  * rows-only vehicle is fully pinned by a golden/replay twin, retire it
  * (the q42/q45/q46/q70 precedent) rather than letting the sweep decay
  * from signal into ceremony, and an addition needs a retirement or an
  * equal measured speedup. q161/q162 (the bucketed-verify alternative
  * to q132/q150, rejected by SCALE.md r11's A/B) are retired with that
  * verify path. */
object Registry {
  def all: Seq[QueryDef] =
    Relational.defs ++ Reco.defs ++ Llm.defs ++ Ml.defs ++ Extras.defs ++
      QualityParity.defs

  require(all.map(_.name).distinct.size == all.size, "duplicate query names")
}

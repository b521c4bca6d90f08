"""Pin-width audit: find columns materialized by a pin() that no
downstream consumer ever reads.

Why: every ``session.pin`` site (82 at r08) is a deliberate lineage
barrier — and therefore a COLUMN-PRUNING barrier. Catalyst prunes
columns by pushing Projects toward the leaves, but it cannot push a
Project through a materialized RDD boundary: whatever columns the
pinned frame carries are computed by the full lineage below the pin,
serialized into executor block storage (or written to the reliable
checkpoint store under SPARK_GRAFT_PIN_MODE=reliable), and only THEN
dropped by a Project sitting directly above the LogicalRDD leaf. At
sf0.1 a wasted column is microseconds; at 100 TB it is a full-corpus
column materialization plus checkpoint-store write traffic for data nobody
reads.

Mechanism: monkeypatch ``pin`` at EVERY binding — ``session.pin``
itself (covers pin_eager / pin_eager_observed, whose bodies resolve
``pin`` through session-module globals) AND the by-value copy each
operator module holds from ``from ..session import pin`` (ADVICE r08:
patching session alone never intercepts the ~78 lazy
``.transform(pin)`` call sites, because Python binds the imported name
at import time; those queries were silently skipped by the no-pins
gate). With each pinned frame's column list recorded, walk the final
OPTIMIZED logical plan (children recursion + subqueriesAll): a
``Project`` whose single child is a ``LogicalRDD`` and whose output is
narrower than the child's output is Catalyst telling us exactly which
pinned columns are dead.

The final plan alone is not enough (found by the r09 full-interception
sweep): a pin consumed by ANOTHER pin's build job hides behind that
pin's LogicalRDD leaf and looks fully dead (events_funnel_steps: the
view-stage pin feeds the click-stage pin's lineage; the final plan
shows only count(*) rows). The spy therefore keeps each PRE-pin
DataFrame and walks its optimized plan too — earlier pins appear there
as LogicalRDD leaves with their real column consumption — and the
per-pin walks are unioned with the final-plan walk before anything is
called dead. The same walk marks loop-internal pins (each round's
frame consumes the previous round's pin) as seen, so UNSEEN now means
"consumed by NO recorded plan", a much stronger prompt than the old
"not in the final plan".

A flag is a PROMPT for a .select() before the pin plus an A/B, never an
automatic fix: a column can be dead in the final plan but alive in a
mid-loop consumer of the same pinned frame, and the recorded plan-audit
history (three measured negatives in r07 alone) says barriers and
projections interact with scheduler overlap in ways only a measurement
settles.

r09 triage of the first FULL-interception sweep (ADVICE r08 fix — 15
bindings spied, 8 raw dead-column flags + 27 raw UNSEEN):
- Cross-pin lineage walk added (see above): cleared the
  events_funnel_steps / sim_topk_mmr / stats_spearman false positives
  and collapsed UNSEEN 27 → 1 (the BPE vocab pin, consumed by
  driver-side per-merge collect jobs no DataFrame plan can show —
  justified, the r08 BPE fix's whole point).
- 5 REAL dead columns fixed (strict parity green on all consumers):
  text_jsd_split_shift pinned the vocab token string `t` nobody read;
  _bpe_train pinned the raw word `w` alongside its derived seq;
  mann_whitney pinned c0 (= cnt−c1, derivable from totals);
  kcore_frame pinned deg in every intermediate round (only the final
  round's deg is returned; inner rounds read just the node key);
  orders_rfm_segmentation_dist rode `_rdays` through the 2nd/3rd rank
  pins after the 1st rank consumed it.
- Remaining residue = exactly the two KNOWN-JUSTIFIED loop-carried
  join keys from r08 (below).

r08 triage of the first full sweep (16 raw flags):
- doc_a/doc_b pairs on the edge pins: FALSE POSITIVES of the
  pre-union version of this script — the same pinned RDD appears at
  several plan positions, each consuming one half; unioning per RDD
  identity (rdd().id()) cleared them.
- `_changed` / sig-probe columns (7 flags): REAL but the column was
  consumed by a separate per-round convergence-probe JOB the final
  plan can't show. Fixed properly via session.pin_eager_observed —
  the probe now rides the pin's own materialization job (observe) and
  the probe column is never stored; measured −20% on
  graph_pointer_jump_rollup and −9% on dedup_components at sf0.1,
  neutral elsewhere (interleaved best-of-3 A/Bs).
- KNOWN-JUSTIFIED residue (the 2 remaining flags): loop-carried join
  keys (`t` in graph_pointer_jump_rollup, `doc_id` in the labels pin
  under dedup_cluster_sizes) — every round's pin needs the column as
  the NEXT round's join key; only the final round's copy goes unread,
  and dropping it would need knowing convergence in advance.

Run: python scripts/pin_width_audit.py [sf_dir]   (default sf0.001 —
pin bodies execute eagerly in loop-driven queries, keep it small)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from insurance_claim_data_pipeline_spark import registry  # noqa: E402
from insurance_claim_data_pipeline_spark import session as session_mod  # noqa: E402
from insurance_claim_data_pipeline_spark.session import get_spark  # noqa: E402


def rdd_projections(df) -> dict[tuple[int, tuple[str, ...]], set[str]]:
    """{(rdd_id, logical_rdd_output_names): union of consumed column
    names} over every LogicalRDD occurrence in the optimized plan. The
    SAME pinned RDD can appear at several places in the plan (an edges
    pin probed once through doc_a and once through doc_b), so consumed
    columns must be unioned per RDD identity before anything is called
    dead. A bare LogicalRDD (no Project directly above) consumes every
    column — Catalyst's ColumnPruning would otherwise have inserted a
    Project; references() on the Project catches a+b AS c reads that
    output() alone would miss.
    """
    plan = df._jdf.queryExecution().optimizedPlan()
    used: dict[tuple[int, tuple[str, ...]], set[str]] = {}

    def names(attrs) -> tuple[str, ...]:
        return tuple(attrs.apply(i).name() for i in range(attrs.size()))

    def record(leaf, consumed: set[str]) -> None:
        key = (leaf.rdd().id(), names(leaf.output()))
        used.setdefault(key, set()).update(consumed)

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        kids = node.children()
        if cls == "LogicalRDD":
            record(node, set(names(node.output())))
            return
        if cls == "Project" and kids.size() == 1:
            child = kids.apply(0)
            if child.getClass().getSimpleName() == "LogicalRDD":
                record(child, set(names(node.references().toSeq())))
                return
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(plan)
    subs = plan.subqueriesAll()
    for i in range(subs.size()):
        walk(subs.apply(i))
    return used


def _pin_bindings(real_pin) -> list:
    """Every (module, attr) slot holding the real ``session.pin``.

    Operator modules import pin BY VALUE (``from ..session import
    pin``), so the spy must be installed on each module's own binding,
    not just on the session module — otherwise every lazy
    ``.transform(pin)`` call site goes straight to the real function
    and the query is invisibly skipped (ADVICE r08). registry.all_specs
    has already imported every query module by the time this runs.
    """
    pkg = "insurance_claim_data_pipeline_spark"
    slots = [(session_mod, "pin")]
    for mod_name, mod in list(sys.modules.items()):
        if (
            mod_name.startswith(pkg)
            and mod is not session_mod
            and getattr(mod, "pin", None) is real_pin
        ):
            slots.append((mod, "pin"))
    return slots


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("pin-width-audit")
    real_pin = session_mod.pin
    specs = registry.all_specs()  # imports every query module
    bindings = _pin_bindings(real_pin)
    print(f"spying {len(bindings)} pin bindings "
          f"(session + {len(bindings) - 1} by-value imports)")
    flagged = unseen_total = 0

    for name, spec in specs.items():
        if name.startswith("claims_") or "streaming" in name:
            continue  # fixture-file / streaming surfaces
        pinned: list[tuple] = []  # (columns, pre-pin DataFrame)

        def spy(df, eager: bool = False, _rec=pinned):
            _rec.append((tuple(df.columns), df))
            return real_pin(df, eager)

        for mod, attr in bindings:
            setattr(mod, attr, spy)
        try:
            df = spec.fn(spark, sf_dir)
            used = rdd_projections(df) if pinned else {}
            # union in each pre-pin lineage's consumption: earlier pins
            # appear there as LogicalRDD leaves (cross-pin and
            # loop-round consumers the final plan hides).
            for _, pre in pinned:
                for key, consumed in rdd_projections(pre).items():
                    used.setdefault(key, set()).update(consumed)
        except Exception as e:  # pragma: no cover - diagnostic tool
            print(f"ERROR  {name}: {type(e).__name__}: {str(e)[:100]}")
            continue
        finally:
            for mod, attr in bindings:
                setattr(mod, attr, real_pin)
        if not pinned:
            continue
        seen: set[tuple[str, ...]] = set()
        for (rdd_id, avail), consumed in used.items():
            seen.add(avail)
            dead = [c for c in avail if c not in consumed]
            if dead:
                flagged += 1
                print(f"{name}: pin cols={len(avail)} dead={dead}")
        unseen = [cols for cols, _ in pinned if cols not in seen]
        if unseen:
            unseen_total += len(unseen)
            print(f"{name}: {len(unseen)} pin(s) consumed by no recorded "
                  f"plan: {[len(c) for c in unseen]} col(s) each")
    print(f"done: {flagged} pin(s) with dead columns; "
          f"{unseen_total} loop-internal pin(s) need manual reading")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The metrics the benchmark reports, as listed in BENCHMARK.json, plus the
names of the layers the code records them for."""

from __future__ import annotations

import json
import os

with open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)

# name -> unit
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

TEXT_LEAVES = ("dd_minhash_lsh", "sim_ann_topk", "ta_fingerprint",
               "ta_quality", "ev_window", "dd_exact")

# spans around the plans.pipeline stage functions (traced street runs)
PLAN_SPANS = ("load_documents", "parse_stage", "graph_stage",
              "run_transforms", "run_t6", "apply_trims",
              "finalize_intersections", "render", "other")

# self time per layer of the sequential kernel, in call order
KERNEL_LAYERS = ("parse", "lanes", "graph", "t6_frame", "t6_pass1",
                 "transforms", "t6_pass2", "rebuild", "render")

"""Offline cProfile of the batch MR matcher on real sf0.1 events.

Replicates q_match_skip_to_first / q_match_vshape's per-key run_one
calls single-threaded (no Spark) so the Python hot spots are visible.
"""
import cProfile, pstats, sys, io, time
sys.path.insert(0, "/root/repo")

import pandas as pd
import numpy as np
import pyarrow.parquet as pq

from flink_commons_spark.operators.cep import Step, match_pattern  # noqa

tbl = pq.read_table("/root/testdata/sf0.1/events.parquet",
                    columns=["user_id", "event_id", "event_type", "ts"])
pdf = tbl.to_pandas()
pdf["ts_us"] = pdf["ts"].astype("int64") // 1000 if pdf["ts"].dtype.kind == "i" else pdf["ts"].astype("int64")
pdf = pdf.drop(columns=["ts"])
print("rows", len(pdf), "keys", pdf.user_id.nunique())

# --- rebuild the internals the same way match_pattern.run_bucket does ---
from flink_commons_spark.operators import cep


def bench_case(name, steps, measures, after_match="past_last", all_rows=False):
    # replicate run_one via match_pattern internals: call the module-level
    # pieces exactly as the catalog query would
    df = None
    # craft a fake closure copy of run_one by invoking match_pattern? No —
    # simpler: inline the same logic using cep internals.
    key_cols = ["user_id"]
    order_cols = ["ts_us", "event_id"]
    step_list = list(steps)

    def run_all():
        outs = 0
        for kv, sub in pdf.groupby(key_cols, sort=False):
            order = np.lexsort(tuple(sub[c].to_numpy() for c in reversed(order_cols)))
            s = sub.take(order).reset_index(drop=True)
            n = len(s)
            masks = cep._group_masks(step_list, s)
            run_ends = cep._run_ends(masks, n)
            cols = {c: s[c].to_numpy() for c in s.columns}
            failed = set()
            starts = (np.flatnonzero(masks[0]).tolist()
                      if step_list[0].lo > 0 and step_list[0].group is None else None)
            s_ptr = 0
            i = 0
            out = []
            while i < n:
                if starts is not None:
                    while s_ptr < len(starts) and starts[s_ptr] < i:
                        s_ptr += 1
                    if s_ptr == len(starts):
                        break
                    i = starts[s_ptr]
                hit = cep._match_at_ex(masks, step_list, i, n, run_ends, failed, None)[0]
                if hit is None or not any(hit):
                    i += 1
                    continue
                segs = {st.name: cep._Seg(cols, posx) for st, posx in zip(step_list, hit)}
                out.append(measures((kv if isinstance(kv, tuple) else (kv,)), segs))
                # resume past_last / to_first / to_last
                if after_match == "past_last":
                    i = max(seg[-1] for seg in hit if seg) + 1
                elif after_match == "to_next_row":
                    i += 1
                else:
                    kind, var = after_match
                    idx = next(k for k, st in enumerate(step_list) if st.name == var)
                    seg = hit[idx]
                    i = seg[0] if kind == "to_first" else seg[-1]
            outs += len(out)
        return outs

    t0 = time.perf_counter()
    nout = run_all()
    dt = time.perf_counter() - t0
    print(f"{name}: {nout} matches, wall {dt:.2f}s")
    pr = cProfile.Profile()
    pr.enable()
    run_all()
    pr.disable()
    s = io.StringIO()
    ps = pstats.Stats(pr, stream=s).sort_stats("cumulative")
    ps.print_stats(25)
    print(s.getvalue()[:4000])


wild = lambda p: pd.Series(True, index=p.index)  # noqa: E731

bench_case(
    "skip_to_first e1 e2 v",
    [Step("e1", wild), Step("e2", wild), Step("v", lambda p: p["event_type"] == "view")],
    lambda key, segs: {
        "user_id": int(key[0]),
        "start_us": int(segs["e1"]["ts_us"].iloc[0]),
        "end_us": int(segs["v"]["ts_us"].iloc[0]),
    },
    after_match=("to_first", "v"),
)

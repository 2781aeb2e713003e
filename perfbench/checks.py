"""Output checks. Each returns the list of problems of one op or pass;
an op with a problem counts as failed and its time is not used."""


def check_query(op, pins):
    if "error" in op:
        return [f"{op['name']}: {op['error']}"]
    want = pins.get(op["name"])
    got = op["out"].get("hash")
    if want is None:
        return [f"{op['name']}: no pinned hash"]
    if got != want:
        return [f"{op['name']}: hash {got} != pinned {want}"]
    return []


def _gold_cents(rows):
    return {(a, m, nome): round(total * 100) for a, m, nome, total in rows}


def _expected_gold(expected, only=None):
    return {tuple(k): v for k, v in expected["gold"]
            if only is None or (k[0], k[1]) == only}


def check_medallion_pass(ops, expected):
    """Problems per op index of one medallion pass."""
    problems = {i: [f"{op['name']}: {op['error']}"] for i, op in enumerate(ops) if "error" in op}
    full_gold = None
    commit_no = read_no = 0
    for i, op in enumerate(ops):
        if i in problems:
            continue
        out, kind, bad = op["out"], op["kind"], []
        if kind == "fetch":
            got = {k: out.get(k) for k in expected["fetch"]}
            if got != expected["fetch"]:
                bad.append(f"fetch report {got} != {expected['fetch']}")
        elif kind == "stage" and op["name"] in ("raw_to_bronze", "bronze_to_silver"):
            if out["rows_written"] != expected["bronze_rows"]:
                bad.append(f"{op['name']} wrote {out['rows_written']} rows, "
                           f"expected {expected['bronze_rows']}")
        elif kind == "stage":
            full_gold = _gold_cents(out.get("gold", []))
            want = _expected_gold(expected)
            if "gold_error" in out or full_gold != want:
                bad.append(f"gold differs from the generator's exact-cents sums "
                           f"({len(full_gold)} vs {len(want)} groups)")
            if out["rows_written"] != len(want):
                bad.append(f"gold wrote {out['rows_written']} rows, expected {len(want)}")
        elif kind == "incremental":
            part = tuple(int(x) for x in op["name"].split("_")[1:3])
            got = _gold_cents(out.get("gold", []))
            want = _expected_gold(expected, part)
            full = {k: v for k, v in (full_gold or {}).items() if (k[0], k[1]) == part}
            if got != want or got != full:
                bad.append(f"incremental gold of {part} differs from the full recompute")
            rows = expected["partition_rows"][f"{part[0]}-{part[1]}"] + len(want)
            if out["rows_written"] != rows:
                bad.append(f"incremental wrote {out['rows_written']} rows, expected {rows}")
        elif kind == "commit":
            commit_no += 1
            if out["version"] != commit_no:
                bad.append(f"commit returned version {out['version']}, expected {commit_no}")
        elif kind == "read":
            want = expected["read_rows"][read_no]
            read_no += 1
            if out["rows"] != want:
                bad.append(f"pruned read [{out['lo']},{out['hi']}] returned "
                           f"{out['rows']} rows, expected {want}")
        if bad:
            problems[i] = [f"{op['name']}: {b}" for b in bad]
    return problems

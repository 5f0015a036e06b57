"""Independent check of one op's verdicts, with DuckDB.

Recounts every rule's total_count and failed_count from the exact parquet
files the op read, recomputes the drift, entropy, correlation, outlier and
quantile statistics from DuckDB aggregates, and asserts properties the
method must have:

  * per-partition failures and totals roll up to the global result for
    partition_covers_key rules;
  * the clean continuation batch of nightly_append fails no row rule;
  * group-rule counts of nightly_append equal a recount over the touched
    conversations;
  * config_all_families returns all 29 results and none is an error.

`check(manifest)` returns a list of problems (empty when all hold).
"""
import math
import os

import duckdb
import yaml

HERE = os.path.dirname(os.path.abspath(__file__))

ROW_RULES = {"completeness", "pattern", "range", "type_conformance", "allowed_values",
             "freshness", "predicate"}
GROUP_RULES = {"uniqueness", "sequence", "monotonic", "transition", "functional_dependency"}
STAT_TOL = 1e-9


def config_rules():
    cfg = yaml.safe_load(open(os.path.join(HERE, "all_families.yaml")))
    return cfg.get("global_rules", []) + cfg["tables"][0]["rules"]


def q(s):
    return "'" + str(s).replace("'", "''") + "'"


def files_sql(paths):
    return "read_parquet([%s])" % ",".join(q(p) for p in paths)


def keys_of(rule):
    return rule.get("columns") or [rule["column"]]


def p(rule, key, default=None):
    return (rule.get("parameters") or {}).get(key, default)


def row_fail(rule):
    """SQL of a row rule's failure condition (graft.engine.RulePlanner)."""
    t, c = rule["rule_type"], rule.get("column")
    if t == "completeness":
        return "%s IS NULL" % c
    if t == "pattern":
        return "%s IS NOT NULL AND NOT regexp_matches(%s, %s)" % (c, c, q(rule["expression"]))
    if t == "range":
        lo, hi = float(p(rule, "min")), float(p(rule, "max"))
        return "coalesce(NOT (%s >= %r AND %s <= %r), false)" % (c, lo, c, hi)
    if t == "type_conformance":
        castable = "TRY_CAST(CAST(%s AS VARCHAR) AS BIGINT) IS NOT NULL" % c
        return "%s IS NOT NULL AND %s%s" % (c, "" if p(rule, "reject") == "true" else "NOT ", castable)
    if t == "allowed_values":
        vals = ",".join(q(v.strip()) for v in p(rule, "values").split(","))
        return "%s IS NOT NULL AND CAST(%s AS VARCHAR) NOT IN (%s)" % (c, c, vals)
    if t == "freshness":
        cutoff = "epoch_us(TIMESTAMPTZ %s) - %d" % (
            q(p(rule, "reference_time")), round(float(p(rule, "max_age_seconds")) * 1e6))
        return "%s IS NOT NULL AND epoch_us(%s) < %s" % (c, c, cutoff)
    if t == "predicate":
        return "NOT coalesce((%s), false)" % rule["expression"]
    raise ValueError(t)


def group_counts(con, rule, frame):
    """(failed groups, groups) of a group-unit rule over `frame`."""
    t = rule["rule_type"]
    if t == "uniqueness":
        ks = ",".join(keys_of(rule))
        n, d = con.execute("SELECT (SELECT count(*) FROM %s), "
                           "(SELECT count(*) FROM (SELECT DISTINCT %s FROM %s))"
                           % (frame, ks, frame)).fetchone()
        return n - d, n
    k = ",".join(keys_of(rule))
    if t == "sequence":
        idx, start = p(rule, "index"), p(rule, "start")
        bad = "NOT (nd = mx - mn + 1%s)" % ("" if start is None else " AND mn = %s" % start)
        sql = ("SELECT count(*), sum(CASE WHEN %s THEN 1 ELSE 0 END) FROM (SELECT %s, "
               "count(DISTINCT %s) nd, min(%s) mn, max(%s) mx FROM %s WHERE %s IS NOT NULL "
               "GROUP BY %s)" % (bad, k, idx, idx, idx, frame, idx, k))
    elif t == "monotonic":
        o, v = p(rule, "order_by"), p(rule, "value")
        sql = ("SELECT count(*), sum(CASE WHEN inv > 0 THEN 1 ELSE 0 END) FROM (SELECT %s, "
               "sum(CASE WHEN %s < prev THEN 1 ELSE 0 END) inv FROM (SELECT %s, %s, lag(%s) "
               "OVER (PARTITION BY %s ORDER BY %s, %s) prev FROM %s WHERE %s IS NOT NULL AND "
               "%s IS NOT NULL) GROUP BY %s)" % (k, v, k, v, v, k, o, v, frame, o, v, k))
    elif t == "transition":
        o, v = p(rule, "order_by"), p(rule, "value")
        edges = " OR ".join("(prev = %s AND v = %s)" % (q(a), q(b)) for a, b in
                            (e.strip().split("->") for e in p(rule, "pairs").split(",")))
        viol = "(prev IS NOT NULL AND NOT (%s))" % edges
        if p(rule, "first"):
            viol += " OR (prev IS NULL AND v NOT IN (%s))" % ",".join(
                q(x.strip()) for x in p(rule, "first").split(","))
        if p(rule, "last"):
            viol += " OR (nxt IS NULL AND v NOT IN (%s))" % ",".join(
                q(x.strip()) for x in p(rule, "last").split(","))
        sql = ("SELECT count(*), sum(CASE WHEN bad > 0 THEN 1 ELSE 0 END) FROM (SELECT %s, "
               "sum(CASE WHEN %s THEN 1 ELSE 0 END) bad FROM (SELECT %s, v, "
               "lag(v) OVER w prev, lead(v) OVER w nxt FROM (SELECT *, CAST(%s AS VARCHAR) v "
               "FROM %s WHERE %s IS NOT NULL AND %s IS NOT NULL) WINDOW w AS "
               "(PARTITION BY %s ORDER BY %s, v)) GROUP BY %s)"
               % (k, viol, k, v, frame, o, v, k, o, k))
    elif t == "functional_dependency":
        dep = ",".join(x.strip() for x in p(rule, "dependent").split(","))
        sql = ("SELECT count(*), sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) FROM (SELECT %s, "
               "count(*) nv FROM (SELECT DISTINCT %s, %s FROM %s) GROUP BY %s)"
               % (k, k, dep, frame, k))
    else:
        raise ValueError(t)
    groups, failed = con.execute(sql).fetchone()
    return failed or 0, groups


def histogram(con, rule, frame):
    c = rule["column"]
    if p(rule, "method") in ("ks", "emd"):
        lo, hi, bins = float(p(rule, "lo", 0)), float(p(rule, "hi", 1000)), int(p(rule, "bins", 64))
        width = (hi - lo) / bins
        b = ("CAST(least(greatest(floor((CAST(%s AS DOUBLE) - %r) / %r), 0), %d) AS INTEGER)"
             % (c, lo, width, bins - 1))
    elif p(rule, "values"):
        vals = ",".join(q(v.strip()) for v in p(rule, "values").split(","))
        s = "CAST(%s AS VARCHAR)" % c
        b = "CASE WHEN %s IS NOT NULL AND %s NOT IN (%s) THEN '__other__' ELSE %s END" % (s, s, vals, s)
    else:
        b = "CAST(%s AS VARCHAR)" % c
    rows = con.execute("SELECT coalesce(CAST(%s AS VARCHAR), '__NULL__') b, count(*) FROM %s "
                       "GROUP BY 1" % (b, frame)).fetchall()
    return {k: n for k, n in rows}


def drift_stat(method, a, b, eps=1e-6):
    """a: current histogram, b: baseline (graft.engine.Checks)."""
    keys = sorted(set(a) | set(b))
    ta, tb = float(sum(a.values())), float(sum(b.values()))
    if method == "chi_square":
        g, s = ta + tb, 0.0
        for k in keys:
            oa, ob = a.get(k, 0), b.get(k, 0)
            ea, eb = (oa + ob) * ta / g, (oa + ob) * tb / g
            s += ((oa - ea) ** 2 / ea if ea > 0 else 0) + ((ob - eb) ** 2 / eb if eb > 0 else 0)
        return s
    if method == "tvd":
        return sum(abs(a.get(k, 0) / ta - b.get(k, 0) / tb) for k in keys) / 2.0
    if method == "psi":
        s = 0.0
        for k in keys:
            pa, pb = max(a.get(k, 0) / ta, eps), max(b.get(k, 0) / tb, eps)
            s += (pa - pb) * math.log(pa / pb)
        return s
    if method == "js":
        s = 0.0
        for k in keys:
            pa, pb = a.get(k, 0) / ta, b.get(k, 0) / tb
            m = (pa + pb) / 2
            s += (pa * math.log(pa / m) if pa > 0 else 0) / 2 + (pb * math.log(pb / m) if pb > 0 else 0) / 2
        return s
    if method == "ks":
        na = {int(k): v for k, v in a.items() if k.lstrip("-").isdigit()}
        nb = {int(k): v for k, v in b.items() if k.lstrip("-").isdigit()}
        sa, sb = float(sum(na.values())), float(sum(nb.values()))
        ca = cb = 0
        d = 0.0
        for k in sorted(set(na) | set(nb)):
            ca += na.get(k, 0)
            cb += nb.get(k, 0)
            d = max(d, abs(ca / sa - cb / sb))
        return d
    raise ValueError(method)


def close(x, y, tol=STAT_TOL):
    return abs(x - y) <= tol * max(1.0, abs(x), abs(y))


class Checker:
    def __init__(self, manifest):
        self.m = manifest
        self.problems = []
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        f = manifest["files"]
        self.con.execute("CREATE VIEW full_t AS SELECT * FROM %s" % files_sql(f["turns"]))
        self.con.execute("CREATE VIEW conv_index AS SELECT * FROM %s" % files_sql(f["conv_index"]))
        self.con.execute("CREATE VIEW baseline AS SELECT * FROM %s" % files_sql(f["baseline"]))
        if "delta" in f:
            self.con.execute("CREATE VIEW delta_t AS SELECT * FROM %s" % files_sql(f["delta"]))
        self.rows = self.con.execute("SELECT count(*) FROM full_t").fetchone()[0]

    def bad(self, msg):
        self.problems.append(msg)

    def expect(self, res, failed, total, what):
        if (res["failed_count"], res["total_count"]) != (failed, total):
            self.bad("%s %s: engine %d/%d, recount %d/%d" % (
                what, res["rule_name"], res["failed_count"], res["total_count"], failed, total))

    def affected(self, rule):
        """The rows of the groups a delta touches (NULL-safe key match)."""
        ks = keys_of(rule)
        cond = " AND ".join("f.%s IS NOT DISTINCT FROM d.%s" % (k, k) for k in ks)
        return ("(SELECT * FROM full_t f WHERE EXISTS (SELECT 1 FROM (SELECT DISTINCT %s "
                "FROM delta_t) d WHERE %s))" % (",".join(ks), cond))

    def frame(self, rule):
        if self.m["workload"] != "nightly_append":
            return "full_t"
        t = rule["rule_type"]
        if t in ROW_RULES:
            return "delta_t"
        if t in GROUP_RULES:
            return self.affected(rule)
        return "full_t"

    def recount(self, rule, res):
        t, con = rule["rule_type"], self.con
        fr = self.frame(rule)
        meta = res.get("metadata") or {}
        n = con.execute("SELECT count(*) FROM %s" % fr).fetchone()[0]
        if t in ROW_RULES:
            failed = con.execute("SELECT count(*) FROM %s WHERE %s" % (fr, row_fail(rule))).fetchone()[0]
            self.expect(res, failed, n, "row rule")
        elif t in GROUP_RULES:
            failed, total = group_counts(con, rule, fr)
            self.expect(res, failed, total, "group rule")
        elif t == "referential":
            failed = con.execute("SELECT count(*) FROM %s WHERE %s IS NOT NULL AND %s NOT IN "
                                 "(SELECT %s FROM %s)" % (fr, rule["column"], rule["column"],
                                                          p(rule, "ref_column", rule["column"]),
                                                          p(rule, "ref_table"))).fetchone()[0]
            self.expect(res, failed, n, "referential")
        elif t == "row_count":
            lo, hi = int(p(rule, "min_rows", 0)), int(p(rule, "max_rows", 2 ** 62))
            self.expect(res, 0 if lo <= n <= hi else 1, 1, "row_count")
        elif t == "drift":
            base = "transcripts_baseline" if p(rule, "ref_table") == "transcripts_baseline" else "baseline"
            stat = drift_stat(p(rule, "method"), histogram(con, rule, fr),
                              histogram(con, rule, base), float(p(rule, "epsilon", 1e-6)))
            if not close(stat, float(meta.get("statistic", "nan"))):
                self.bad("drift %s: engine statistic %s, recount %r" % (
                    rule["name"], meta.get("statistic"), stat))
            self.expect(res, n if stat > float(p(rule, "critical")) else 0, n, "drift")
        elif t == "cardinality":
            d = con.execute("SELECT count(*) FROM (SELECT DISTINCT %s FROM %s)"
                            % (rule["column"], fr)).fetchone()[0]
            lo, hi = int(p(rule, "min_distinct", 0)), int(p(rule, "max_distinct", 2 ** 62))
            self.expect(res, 0 if lo <= d <= hi else 1, 1, "cardinality")
        elif t == "correlation":
            a, b = rule["columns"]
            c = con.execute("SELECT corr(%s, %s) FROM %s" % (a, b, fr)).fetchone()[0]
            if not close(c, float(meta.get("correlation", "nan")), 1e-6):
                self.bad("correlation %s: engine %s, recount %r" % (rule["name"], meta.get("correlation"), c))
            lo, hi = float(p(rule, "min_corr", -1)), float(p(rule, "max_corr", 1))
            self.expect(res, 0 if lo <= c <= hi else 1, 1, "correlation")
        elif t == "entropy":
            cnt, clnc = con.execute("SELECT sum(c), sum(c * ln(c)) FROM (SELECT count(*) c FROM %s "
                                    "WHERE %s IS NOT NULL GROUP BY %s)"
                                    % (fr, rule["column"], rule["column"])).fetchone()
            h = math.log(cnt) - clnc / cnt
            if not close(h, float(meta.get("entropy", "nan"))):
                self.bad("entropy %s: engine %s, recount %r" % (rule["name"], meta.get("entropy"), h))
            lo, hi = float(p(rule, "min_entropy", 0)), float(p(rule, "max_entropy", 1e300))
            self.expect(res, 0 if lo <= h <= hi else 1, 1, "entropy")
        elif t == "quantile":
            # the engine's value is approximate: its rank must lie within
            # half a percentile of q among the non-null values
            v, qq, c = float(meta["quantile"]), float(p(rule, "q")), rule["column"]
            below, upto, nn = con.execute(
                "SELECT sum(CASE WHEN %s < %r THEN 1 ELSE 0 END), sum(CASE WHEN %s <= %r THEN 1 "
                "ELSE 0 END), count(%s) FROM %s" % (c, v, c, v, c, fr)).fetchone()
            if not (below / nn <= qq + 0.005 and upto / nn >= qq - 0.005):
                self.bad("quantile %s: value %r sits at rank %.4f..%.4f, not %s" % (
                    rule["name"], v, below / nn, upto / nn, qq))
            lo, hi = float(p(rule, "min_value")), float(p(rule, "max_value"))
            self.expect(res, 0 if lo <= v <= hi else 1, 1, "quantile")
        elif t == "outlier":
            c, k = rule["column"], float(p(rule, "max_zscore", 3.0))
            mean, std = con.execute("SELECT avg(%s), stddev_samp(%s) FROM %s" % (c, c, fr)).fetchone()
            em, es = float(meta["mean"]), float(meta["stddev"])
            if not (close(mean, em) and close(std, es)):
                self.bad("outlier %s: engine mean/std %r/%r, recount %r/%r" % (rule["name"], em, es, mean, std))
            failed = con.execute("SELECT count(*) FROM %s WHERE %s IS NOT NULL AND "
                                 "abs(CAST(%s AS DOUBLE) - CAST(%r AS DOUBLE)) > CAST(%r AS DOUBLE)"
                                 % (fr, c, c, em, k * es)).fetchone()[0]
            self.expect(res, failed, n, "outlier")
        elif t == "reconciliation":
            rv = con.execute("SELECT count(*) FROM %s" % p(rule, "ref_table")).fetchone()[0]
            tol = max(float(p(rule, "tolerance", 0)), float(p(rule, "tolerance_pct", 0)) * rv)
            self.expect(res, 1 if abs(n - rv) > tol else 0, 1, "reconciliation")
        elif t == "schema":
            cols = lambda v: con.execute("DESCRIBE SELECT * FROM %s" % v).fetchall()
            a = {r[0].lower(): r[1] for r in cols(fr)}
            b = {r[0].lower(): r[1] for r in cols(p(rule, "ref_table"))}
            diffs = sum(1 for x in set(a) | set(b) if a.get(x) != b.get(x))
            self.expect(res, diffs, len(set(a) | set(b)), "schema")
        elif t == "diff":
            ks = keys_of(rule)
            cmp_cols = [x.strip() for x in p(rule, "compare_columns").split(",")]
            allc = ",".join(ks + cmp_cols)
            on = " AND ".join("l.%s IS NOT DISTINCT FROM r.%s" % (x, x) for x in ks + cmp_cols)
            kk = ",".join("coalesce(l.%s, r.%s) %s" % (x, x, x) for x in ks)
            total, failed = con.execute(
                "WITH l AS (SELECT %s, count(*) n FROM %s GROUP BY ALL), "
                "r AS (SELECT %s, count(*) n FROM %s GROUP BY ALL), "
                "j AS (SELECT %s, coalesce(l.n, 0) <> coalesce(r.n, 0) AS d FROM l FULL JOIN r ON %s) "
                "SELECT count(*), sum(CASE WHEN bad THEN 1 ELSE 0 END) FROM "
                "(SELECT %s, bool_or(d) bad FROM j GROUP BY ALL)"
                % (allc, fr, allc, p(rule, "ref_table"), kk, on, ",".join(ks), )).fetchone()
            self.expect(res, failed or 0, total, "diff")
        elif t == "custom":
            sql = rule["expression"].replace("{table}", fr)
            failed = len(con.execute(sql).fetchall())
            self.expect(res, failed, n, "custom")
        else:
            self.bad("no recount for rule type %s (%s)" % (t, rule["name"]))

    def run(self):
        wl = self.m["workload"]
        rules = config_rules() if wl == "config_all_families" else self.m["rules"]
        if wl == "config_all_families":
            self.con.execute("CREATE VIEW transcripts_baseline AS SELECT * FROM baseline")
        results = {r["rule_name"]: r for r in self.m["results"]}
        if set(results) != {r["name"] for r in rules}:
            self.bad("results %s != rules %s" % (sorted(results), sorted(r["name"] for r in rules)))
        for r in self.m["results"]:
            if r["failed_count"] < 0:
                self.bad("error result %s: %s" % (r["rule_name"], r.get("metadata")))
        for rule in rules:
            res = results.get(rule["name"])
            if res is None or res["failed_count"] < 0:
                continue
            try:
                self.recount(rule, res)
            except Exception as e:  # a recount that cannot run is a failed check
                self.bad("recount %s raised %r" % (rule["name"], e))
            if wl == "nightly_append" and rule["rule_type"] in ROW_RULES and res["failed_count"] != 0:
                self.bad("clean continuation batch fails %s" % rule["name"])
        self.rollups(rules, results)
        return self.problems

    def rollups(self, rules, results):
        verdicts = self.m.get("partition_verdicts") or []
        if self.m["workload"] == "nightly_append":
            return
        for rule in rules:
            if p(rule, "partition_covers_key") != "true" and rule["rule_type"] not in ROW_RULES:
                continue
            vs = [v for v in verdicts if v["rule_name"] == rule["name"]]
            res = results.get(rule["name"])
            if not vs or res is None:
                self.bad("no partition verdicts for %s" % rule["name"])
                continue
            failed = sum(v["failed_count"] for v in vs)
            total = sum(v["total_count"] for v in vs)
            if (failed, total) != (res["failed_count"], res["total_count"]):
                self.bad("roll-up %s: partitions %d/%d, global %d/%d" % (
                    rule["name"], failed, total, res["failed_count"], res["total_count"]))


def check(manifest):
    return Checker(manifest).run()


if __name__ == "__main__":
    import json
    import sys
    res = json.load(open(sys.argv[1]))
    for line in check(res["manifest"]):
        print(line)

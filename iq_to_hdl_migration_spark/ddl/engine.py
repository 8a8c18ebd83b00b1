"""DDL rewrite engine (SURVEY §2.8 D2-D13) — pure driver-side functions.

Re-implements the observable behavior of the reference's
`modify_reloadsql` (Migration/migration.py:1094-1297) over a list of
DDL lines: go-delimited block segmentation, rule-driven block
commenting with Begin/end markers, FK capture (D4), TEXT CONFIGURATION
special case (D5), CREATE DOMAIN `AS USER` strip (D6), `password
values` ±3-line window (D7), single-line comments (D8), procedure
cascade-commenting (D9), word-boundary replaces (D10), login-policy
clone (D11, migration.py:1046-1085), completion sentinels (D13).

Output additionally includes a structured hit list so the rewrite is
queryable as a DataFrame (the Spark-first upgrade over the reference's
text-only output).
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field

from iq_to_hdl_migration_spark.ddl.rules import (
    CommentRule, LineCommentRule, ReplaceRule)
from iq_to_hdl_migration_spark.sources.rule_tables import (
    load_login_policy_defaults)

BEGIN_MARK = "--** Commented by Migration Utility: Begin"
END_MARK = "--** Commented by Migration Utility: end"
TC_BEGIN_MARK = "--** Commented by migration script: Begin"
TC_END_MARK = "--** Commented by migration script: end"
SENTINEL_START = "-- Creation of objects started."
SENTINEL_END = "-- Creation of objects completed."


@dataclass
class RewriteResult:
    lines: list[str]
    hits: list[dict] = field(default_factory=list)
    fk_statements: list[str] = field(default_factory=list)

    def text(self) -> str:
        return "\n".join(self.lines) + "\n"


def _word(pat: str, line: str) -> bool:
    return re.search(rf"\b{re.escape(pat.lower())}\b", line.lower()) is not None


def _is_go(line: str) -> bool:
    return line.strip() == "go"


def _is_boundary(line: str) -> bool:
    return _is_go(line) or "--" in line.strip() or line.strip() == ""


def _find_bottom(lines: list[str], i: int) -> int | None:
    for j in range(i, len(lines)):
        if _is_go(lines[j]):
            return j
    return None


def _find_top(lines: list[str], i: int) -> int:
    """Index of the boundary line above the block (-1 = file start)."""
    for j in range(i - 1, -1, -1):
        if _is_boundary(lines[j]):
            return j
    return -1


def _comment_block(lines: list[str], i: int, rule: CommentRule,
                   hits: list[dict], fks: list[str],
                   begin: str = BEGIN_MARK, end: str = END_MARK) -> int:
    """Comment the whole go-block around line i; marker lines are
    spliced in as separate entries so the line list stays one physical
    line per element (later rules' go-boundary searches depend on it).
    Returns the index just past the rewritten block."""
    bottom = _find_bottom(lines, i)
    if bottom is None:
        return i + 1
    top = _find_top(lines, i)
    if rule.capture_fk:
        fks.extend(lines[top + 1:bottom])
        fks.append("go")
    for j in range(top + 1, bottom + 1):
        if not lines[j].lstrip().startswith("--"):
            lines[j] = "-- " + lines[j]
    lines.insert(bottom + 1, end)
    head = ["", begin, "", f"--** {rule.describe()}"]
    lines[top + 1:top + 1] = head
    hits.append({"rule": rule.pattern, "action": "comment_block",
                 "line_no": i + 1, "detail": rule.describe()})
    return bottom + 1 + len(head) + 1


def _apply_comment_rule(lines: list[str], rule: CommentRule,
                        hits: list[dict], fks: list[str]) -> None:
    i = 0
    while i < len(lines):
        line = lines[i]
        matched = (rule.pattern.lower() in line.lower() if rule.substring
                   else _word(rule.pattern, line))
        if matched and "--" not in line:
            top = _find_top(lines, i)
            bottom = _find_bottom(lines, i)
            if bottom is not None:
                block = lines[top + 1:bottom]
                ok1 = rule.pat1 is None or any(
                    _word(rule.pat1, x) for x in block)
                ok2 = rule.pat2 is None or any(
                    _word(rule.pat2, x) for x in block)
                if ok1 and ok2:
                    i = _comment_block(lines, i, rule, hits, fks)
                    continue
        i += 1


def _apply_text_configuration(lines: list[str], rule: CommentRule,
                              hits: list[dict]) -> None:
    """D5: only CREATE/ALTER TEXT CONFIGURATION owned by SYS."""
    pats = [f'{v} TEXT CONFIGURATION "SYS"' for v in ("CREATE", "ALTER")]
    pats += [f"{v} TEXT CONFIGURATION SYS" for v in ("CREATE", "ALTER")]
    i = 0
    while i < len(lines):
        line = lines[i]
        if any(p.lower() in line.lower() for p in pats) and "--" not in line:
            i = _comment_block(lines, i,
                               CommentRule("TEXT CONFIGURATION",
                                           reason="CREATE or ALTER TEXT "
                                                  "CONFIGURATION on SYS Not "
                                                  "supported on HDL"),
                               hits, [], begin=TC_BEGIN_MARK, end=TC_END_MARK)
            continue
        i += 1


def _apply_domain_rewrite(lines: list[str], hits: list[dict]) -> None:
    """D6: strip the trailing `AS USER ...` clause from CREATE DOMAIN."""
    for i, line in enumerate(lines):
        if _word("CREATE DOMAIN", line) and "--" not in line:
            stripped = re.split(r"AS USER +", line)[0]
            if stripped != line:
                lines[i] = stripped
                hits.append({"rule": "CREATE DOMAIN", "action": "strip_as_user",
                             "line_no": i + 1, "detail": "AS USER clause "
                             "removed"})


def _apply_password_window(lines: list[str], hits: list[dict]) -> None:
    """D7: comment a ±3-line window around `password values`, clamped
    to the statement block (the reference's raw ±3 window can bleed
    into a neighboring statement; clamping keeps the same coverage of
    the GRANT...password block without collateral damage)."""
    i = 0
    while i < len(lines):
        if "password values" in lines[i] and "--" not in lines[i]:
            top = _find_top(lines, i)
            bottom = _find_bottom(lines, i)
            bottom = bottom if bottom is not None else len(lines) - 1
            lo, hi = max(top + 1, i - 3), min(bottom, i + 3)
            for j in range(lo, hi + 1):
                if not lines[j].lstrip().startswith("--"):
                    lines[j] = "-- " + lines[j]
            hits.append({"rule": "password values", "action": "comment_window",
                         "line_no": i + 1, "detail": "password values window "
                         "commented"})
        i += 1


def _apply_line_comment(lines: list[str], rule: LineCommentRule,
                        hits: list[dict]) -> None:
    """D8: single-line comment when both substrings present."""
    for i, line in enumerate(lines):
        if (rule.pattern.lower() in line.lower()
                and rule.pat1.lower() in line.lower() and "--" not in line):
            lines[i] = "--" + line
            hits.append({"rule": rule.pattern, "action": "comment_line",
                         "line_no": i + 1, "detail": rule.pat1})


def _apply_replace(lines: list[str], rule: ReplaceRule,
                   hits: list[dict]) -> None:
    """D10/D12: global word-boundary case-insensitive replace."""
    pat = re.compile(rf"\b{re.escape(rule.src)}\b", re.I)
    n = 0
    for i, line in enumerate(lines):
        new = pat.sub(rule.dest, line)
        if new != line:
            lines[i] = new
            n += 1
    if n:
        hits.append({"rule": rule.src, "action": "replace",
                     "line_no": 0, "detail": f"-> {rule.dest} ({n} lines)"})


def _apply_procedure_cascade(lines: list[str], pattern: str,
                             hits: list[dict]) -> None:
    """D9: if any statement inside a create/replace procedure block was
    commented (its `go` carries the end marker), comment the whole
    procedure."""
    i = 0
    while i < len(lines):
        line = lines[i]
        if pattern.lower() in line.lower() and "--" not in line:
            bottom, commented = None, False
            for j in range(i, len(lines)):
                if (lines[j].strip() == "-- go" and j + 1 < len(lines)
                        and "Commented by Migration Utility" in lines[j + 1]):
                    bottom, commented = j, True
                    break
                if _is_go(lines[j]):
                    bottom, commented = j, False
                    break
            if commented and bottom is not None:
                top = i
                if top > 0 and "COMMENT TO PRESERVE FORMAT ON" in lines[top - 1]:
                    top -= 1
                for j in range(top, bottom):
                    if not lines[j].lstrip().startswith("--"):
                        lines[j] = "-- " + lines[j]
                head = ["", BEGIN_MARK, "",
                        f"--** {pattern} with unsupported artifacts not "
                        "supported on HDL", ""]
                lines[top:top] = head
                hits.append({"rule": pattern, "action": "cascade_comment",
                             "line_no": i + 1,
                             "detail": "procedure with commented artifacts"})
                i = bottom + len(head)
        i += 1


# ------------------------------- login policy -------------------------------

def parse_root_login_policy(lines: list[str]) -> dict[str, str]:
    """k=v options of the ALTER LOGIN POLICY root block (D11 probe)."""
    opts: dict[str, str] = {}
    for i, line in enumerate(lines):
        if (_word("LOGIN POLICY", line) and _word("root", line)
                and "--" not in line):
            for j in range(i + 1, len(lines)):
                if _is_go(lines[j]):
                    break
                kv = lines[j].split("=")
                if len(kv) == 2:
                    opts[kv[0].strip()] = kv[1].strip()
    return opts


def login_policy_differs(lines: list[str],
                         defaults: dict[str, str]) -> bool:
    opts = parse_root_login_policy(lines)
    return any(defaults.get(k) != v for k, v in opts.items())


def _apply_login_policy_clone(lines: list[str], hits: list[dict]) -> None:
    """D11: root policy deviates from defaults — clone it as "c_root"
    and point non-DBA GRANT CONNECT users at the clone."""
    i = 0
    while i < len(lines):
        line = lines[i]
        if (_word("LOGIN POLICY", line) and _word("root", line)
                and "--" not in line):
            cloned = re.sub(r"\broot\b", "c_root", line, flags=re.I)
            lines[i:i + 1] = ['CREATE LOGIN POLICY "c_root"', "go", cloned]
            bottom = _find_bottom(lines, i + 3)
            if bottom is not None:
                lines.insert(bottom + 1, "--**LOGIN POLICY Modified by "
                                         "Migration Utility: end")
            top = _find_top(lines, i)
            lines.insert(top + 1, "--**LOGIN POLICY Modified by Migration "
                                  "Utility: Begin")
            hits.append({"rule": "LOGIN POLICY", "action": "clone_c_root",
                         "line_no": i + 1, "detail": "root policy cloned"})
            i = (bottom + 2) if bottom is not None else i + 3
        elif (_word("GRANT CONNECT TO", line) and not _word("DBA", line)
                and "--" not in line):
            alter = (re.sub(r"\bGRANT CONNECT TO\b", "ALTER USER",
                            line.strip(), flags=re.I).strip()
                     + ' login policy "c_root"')
            lines[i:i + 1] = [line.strip(), "", alter]
            hits.append({"rule": "GRANT CONNECT TO", "action": "assign_policy",
                         "line_no": i + 1, "detail": "user assigned c_root"})
            i += 3
        i += 1


# --------------------------------- sentinels --------------------------------

def has_completion_sentinels(lines: list[str]) -> bool:
    """D13: first/last line completion markers (migration.py:611-616)."""
    return (len(lines) >= 2
            and SENTINEL_START in lines[0]
            and SENTINEL_END in lines[-1])


# ----------------------------------- entry ----------------------------------

def rewrite(lines: list[str], rules: list) -> RewriteResult:
    """Apply the full D2-D13 pipeline; returns rewritten lines, the
    structured rule-hit list, and captured FK statements. The root
    login-policy defaults come from the packaged `login_policy.csv`
    rule table (reference load_login_list, migration.py:992-999)."""
    lines = list(lines)
    hits: list[dict] = []
    fks: list[str] = []

    work = list(rules)
    if login_policy_differs(lines, load_login_policy_defaults()):
        _apply_login_policy_clone(lines, hits)
    else:
        work.append(CommentRule("ALTER LOGIN POLICY", "root"))

    for rule in work:
        if isinstance(rule, ReplaceRule):
            _apply_replace(lines, rule, hits)
        elif isinstance(rule, LineCommentRule):
            _apply_line_comment(lines, rule, hits)
        elif isinstance(rule, CommentRule):
            if rule.pattern == "password values":
                _apply_password_window(lines, hits)
            elif rule.pattern == "CREATE DOMAIN":
                _apply_domain_rewrite(lines, hits)
            elif rule.pattern == "TEXT CONFIGURATION":
                _apply_text_configuration(lines, rule, hits)
            else:
                _apply_comment_rule(lines, rule, hits, fks)

    # D9 cascade runs last so it sees every commented statement.
    for pattern in ("create procedure", "replace procedure"):
        _apply_procedure_cascade(lines, pattern, hits)

    if fks:
        fks.append("-- Creation of Foreign_Key_Constraint.sql completed. ")
    return RewriteResult(lines=lines, hits=hits, fk_statements=fks)

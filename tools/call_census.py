#!/usr/bin/env python
"""Call census: which functions of ``paddleocr_spark/`` does a run reach?

    python tools/call_census.py OUT [--tag NAME] -- <cmd ...>
    python tools/call_census.py --report OUT [--tags NAME ...]

The first form runs ``cmd`` with a generated ``sitecustomize.py`` first
on ``PYTHONPATH``, so every Python process under it (the driver, and
Spark's local-mode Python daemon and workers) appends the first call of
each package code object to ``OUT/<tag>/<pid>.log``, line by line, as
daemon children leave through ``os._exit``. The second form prints the
top-level and class-level functions no run under the tags (default:
all) reached, with their line counts, and the modules never imported.
Both write only under ``OUT``.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "paddleocr_spark")
HOOK = r'''import os, sys, threading
_seen, _f, _pkg = set(), [None, None], "paddleocr_spark/"
def _hook(frame, event, arg):
    c = frame.f_code
    if event == "call" and c not in _seen and _pkg in c.co_filename:
        _seen.add(c)
        if _f[0] != os.getpid():
            _f[:] = [os.getpid(), open(os.path.join(os.environ[
                "CALL_CENSUS_DIR"], "%d.log" % os.getpid()), "a", 1)]
        _f[1].write("%s %d\n" % (c.co_filename.rsplit(_pkg, 1)[1],
                                 c.co_firstlineno))
sys.settrace(_hook)
threading.settrace(_hook)
'''


def run(out: str, tag: str, cmd: list[str]) -> int:
    hook = os.path.abspath(os.path.join(out, "hook"))
    logs = os.path.abspath(os.path.join(out, tag))
    os.makedirs(hook, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(hook, "sitecustomize.py"), "w") as f:
        f.write(HOOK)
    path = [hook] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    env = dict(os.environ, CALL_CENSUS_DIR=logs,
               PYTHONPATH=os.pathsep.join(path))
    return subprocess.call(cmd, env=env)


def report(out: str, tags: list[str]) -> None:
    seen, total = set(), 0
    for tag in tags or [t for t in os.listdir(out) if t != "hook"]:
        for name in os.listdir(os.path.join(out, tag)):
            with open(os.path.join(out, tag, name)) as f:
                seen.update((p, int(n)) for p, n in map(str.split, f))
    for dirpath, _, files in sorted(os.walk(ROOT)):
        for name in sorted(f for f in files if f.endswith(".py")):
            rel = os.path.relpath(os.path.join(dirpath, name), ROOT)
            body = ast.parse(open(os.path.join(ROOT, rel)).read()).body
            if (rel, 1) not in seen:
                print(f"paddleocr_spark/{rel}: never imported")
            methods = [m for n in body if isinstance(n, ast.ClassDef)
                       for m in n.body]
            for node in body + methods:
                if not isinstance(node, (ast.FunctionDef,
                                         ast.AsyncFunctionDef)):
                    continue
                first = min([d.lineno for d in node.decorator_list],
                            default=node.lineno)
                if (rel, first) not in seen:
                    total += node.end_lineno - first + 1
                    print(f"paddleocr_spark/{rel}:{node.lineno} {node.name} "
                          f"{node.end_lineno - first + 1}")
    print(f"unreached function lines: {total}")


def main(argv: list[str]) -> int:
    if argv[:1] == ["--report"] and len(argv) >= 2:
        report(argv[1], argv[3:] if argv[2:3] == ["--tags"] else [])
        return 0
    if "--" not in argv or argv.index("--") < 1:
        print("\n".join(__doc__.splitlines()[2:4]), file=sys.stderr)
        return 2
    head, cmd = argv[:argv.index("--")], argv[argv.index("--") + 1:]
    tag = head[head.index("--tag") + 1] if "--tag" in head else "run"
    return run(head[0], tag, cmd)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

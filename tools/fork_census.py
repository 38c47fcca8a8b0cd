#!/usr/bin/env python3
"""Count the metadata commands a program forks.

    python tools/fork_census.py -- python tools/check_parity.py SF_DIR

Puts a directory of logging wrappers for ``chmod``, ``readlink``, ``ls``,
``stat``, ``bash``, ``sh``, ``df`` and ``du`` first on ``PATH``, runs the
command under it and prints one JSON line: the command's exit code and
the number of calls per wrapped command. A Spark driver started by the
command inherits the ``PATH``, so every ``Shell.execCommand`` of Hadoop's
local filesystem is counted. Exits with the command's exit code.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile

COMMANDS = ("chmod", "readlink", "ls", "stat", "bash", "sh", "df", "du")


def wrapper_env(bin_dir: str, log: str, commands=COMMANDS) -> dict[str, str]:
    """Write a logging wrapper per command into ``bin_dir`` and return a
    copy of this process's environment with ``bin_dir`` first on
    ``PATH``. Each call appends ``<command> <args>`` to ``log`` and then
    runs the real command."""
    env = dict(os.environ)
    for name in commands:
        real = shutil.which(name, path=env.get("PATH"))
        if real is None:
            continue
        wrapper = os.path.join(bin_dir, name)
        with open(wrapper, "w") as f:
            f.write(f'#!/bin/sh\necho "{name} $*" >> "{log}"\nexec {real} "$@"\n')
        os.chmod(wrapper, 0o755)
    env["PATH"] = os.pathsep.join(filter(None, [bin_dir, env.get("PATH", "")]))
    return env


def tally(log: str) -> dict[str, int]:
    """Calls per command in ``log``; no log means no calls."""
    if not os.path.exists(log):
        return {}
    with open(log) as f:
        counts = collections.Counter(line.split(" ", 1)[0] for line in f if line.strip())
    return dict(sorted(counts.items()))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--log", help="keep the call log here (default: a temp file)")
    p.add_argument("command", nargs=argparse.REMAINDER)
    a = p.parse_args(argv)
    command = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not command:
        p.error("no command given")
    with tempfile.TemporaryDirectory(prefix="zds_forks_") as bin_dir:
        log = os.path.abspath(a.log) if a.log else os.path.join(bin_dir, "calls.log")
        code = subprocess.call(command, env=wrapper_env(bin_dir, log))
        print(json.dumps({"exit": code, "calls": tally(log)}))
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

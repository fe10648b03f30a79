#!/usr/bin/env python3
"""Top-level src/main classes that no entry point reaches.

    sbt compile && python3 tools/reach.py [classes_dir]

Runs `jdeps -verbose:class -filter:none` over the compiled main classes
(default `target/scala-2.13/classes`) and walks the class-to-class edges
from the five mains (`Verify`, `Bench`, `QueryProbe`, `Serve`, `Demo`) and
`SparkEntry`, every class of each root included (`Bench$`, its lambdas).
The `org.apache.spark.sql.Graft*Shim` classes live in the same directory,
so edges into them count like any other. Prints, one per line, each
top-level class (the name before the first `$`) none of whose classes was
reached. A class reached only by reflection would show here too.
"""
import collections
import subprocess
import sys

ROOTS = {"graft." + n for n in
         ("Verify", "Bench", "QueryProbe", "Serve", "Demo", "SparkEntry")}


def top(name):
    return name.split("$", 1)[0]


def main():
    classes = sys.argv[1] if len(sys.argv) > 1 else "target/scala-2.13/classes"
    out = subprocess.run(["jdeps", "-verbose:class", "-filter:none", classes],
                         check=True, capture_output=True, text=True).stdout
    edges = collections.defaultdict(set)
    nodes = set()
    for line in out.splitlines():
        parts = line.split()
        # class lines are indented: "   <from>  -> <to>  <location>", and
        # location "classes" means the target is in the same directory
        if line.startswith(" ") and len(parts) >= 4 and parts[1] == "->":
            nodes.add(parts[0])
            if parts[3] == "classes":
                edges[parts[0]].add(parts[2])
    seen = {n for n in nodes if top(n) in ROOTS}
    todo = list(seen)
    while todo:
        for nxt in edges[todo.pop()] - seen:
            seen.add(nxt)
            todo.append(nxt)
    reached = {top(n) for n in seen}
    for name in sorted({top(n) for n in nodes} - reached):
        print(name)


if __name__ == "__main__":
    main()

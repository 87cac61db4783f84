#!/usr/bin/env python3
"""Run the benchmark's own tests (SelfTest.scala): python3 flockbench/test.py"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

build.build()
sys.exit(subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", build.classpath(),
                         "graft.flockbench.SelfTest"]).returncode)

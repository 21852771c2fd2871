# Sourced by the tools/ runners that start graft mains with a raw `java`.
#
# JAVA_FLAGS: the --add-opens list Spark needs on JDK 17 outside
# spark-submit (build.sbt's jdk17AddOpens, i.e.
# org.apache.spark.launcher.JavaModuleOptions).
#
# snapshot_classes: copies the compiled classes to a new temp dir and sets
# SNAP to it, so a concurrent `sbt compile` cannot swap class files under a
# running JVM.
GRAFT_REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JAVA_FLAGS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  JAVA_FLAGS="$JAVA_FLAGS --add-opens java.base/$p=ALL-UNNAMED"
done

snapshot_classes() {
  SNAP=$(mktemp -d /tmp/graft_classes_XXXX)
  cp -r "$GRAFT_REPO"/target/scala-2.13/classes/* "$SNAP/"
}

# Source this before any bare `java -cp target/...` graft.Verify/Bench run.
# Spark on JDK 17 needs the module opens that spark-submit / sbt inject
# (build.sbt jdk17AddOpens); without them every RDD-shuffle query (the
# connected-components family) dies in Kryo's serializer init with
# "Unable to create serializer ... java.nio.HeapByteBuffer"; graft.Bench
# lists each such query under the bench line's "failed" field, with no time.
export JDK_JAVA_OPTIONS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
